"""spark-submit entry point.

    spark-submit --py-files sems_event_deduplication_spark.zip main.py \
        --input <parquet path | catalog table> \
        --warehouse <checkpoint dir> \
        [--resume] [--no-audio] [--config k=v ...]

The checkpoint dir is any Hadoop path: local, ``file://``, ``hdfs://``,
``s3a://``; a path with no scheme follows ``fs.defaultFS``.

Local smoke (this sandbox):

    python -m sems_event_deduplication_spark.main \
        --synth 500 --warehouse /tmp/wh_cli

Emits one JSON line of metrics (rows + seconds per stage, clips/sec).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description="PySpark near-dup dedup pipeline")
    p.add_argument("--input", help="parquet path or catalog table of audio_clips")
    p.add_argument("--synth", type=int, default=0,
                   help="generate a synthetic corpus of N base rows instead of --input")
    p.add_argument("--warehouse", required=True,
                   help="checkpoint dir, any Hadoop path: local, file://, hdfs://, "
                        "s3a://; no scheme = fs.defaultFS")
    p.add_argument("--resume", action="store_true", help="skip committed stages")
    p.add_argument("--no-audio", action="store_true")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--config", nargs="*", default=[],
                   help="DedupConfig overrides, k=v (e.g. jaccard_threshold=0.7)")
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from .conf import DedupConfig
    from .plans.pipeline import DedupPipeline
    from .session import get_spark
    from .sources.readers import read_audio_clips
    from .sources.warehouse import WarehouseIO

    overrides = {}
    base = DedupConfig()
    for kv in args.config:
        k, v = kv.split("=", 1)
        cur = getattr(base, k)  # raises on unknown key
        overrides[k] = type(cur)(v) if not isinstance(cur, bool) else v.lower() == "true"
    if ("num_perm" in overrides or "bands" in overrides) and "rows_per_band" not in overrides:
        # keep the bands*rows == num_perm invariant without making the
        # user spell out all three
        np_ = overrides.get("num_perm", base.num_perm)
        b_ = overrides.get("bands", base.bands)
        if np_ % b_ == 0:
            overrides["rows_per_band"] = np_ // b_
    cfg = DedupConfig(**overrides)

    spark = get_spark("sems-dedup-cli", cores=args.cores,
                      shuffle_partitions=cfg.shuffle_partitions)

    if args.synth:
        from .synth import make_corpus

        clips = make_corpus(spark, n_base=args.synth, seed=cfg.seed)
    elif args.input:
        clips = read_audio_clips(spark, args.input)
    else:
        raise SystemExit("one of --input / --synth is required")

    n = clips.count()
    wh = WarehouseIO(spark, args.warehouse)
    pipe = DedupPipeline(spark, cfg, wh)
    t0 = time.monotonic()
    res = pipe.run(clips, resume=args.resume, with_audio=not args.no_audio)
    wall = time.monotonic() - t0
    print(json.dumps({
        "n_clips": n,
        "wall_sec": round(wall, 3),
        "clips_per_sec": round(n / wall, 2) if wall > 0 else None,
        "stages": res.metrics_dict(),
    }))


if __name__ == "__main__":
    main()
