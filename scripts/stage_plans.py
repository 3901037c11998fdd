"""Print the optimized plan of every committed pipeline stage, one block
per stage, so two checkouts can be compared plan by plan:

    python scripts/stage_plans.py > plans.txt
    python scripts/stage_plans.py --diff base.txt plans.txt

``WarehouseIO.checkpoint`` / ``checkpoint_chunked`` are wrapped to
record the optimized logical plan of the frame each stage commits, and
``DedupPipeline.run`` goes over a matrix of configs on a small
``make_corpus_pdf`` parquet input: both scan modes with and without
audio, the offset tier in both verify modes, chunked signatures, and a
single-file input (the under-partitioned repartition branch) in both
modes. ``sign_batch`` (with and without a payload column) and the three
frames of ``incremental_dedup`` follow. Expression ids (``#12``),
``plan_id=`` and temp paths are stripped, so equal plans print equal
blocks. Each block starts with ``### <config> <stage>``; the survivors
and clusters stages are written from two threads, so ``--diff``
matches blocks by header, not by position.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _clean(plan: str, root: str) -> str:
    plan = plan.replace("file:" + root, "<tmp>").replace(root, "<tmp>")
    plan = re.sub(r"#\d+L?", "", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def _blocks(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    header = None
    for line in text.splitlines():
        if line.startswith("### "):
            header = line[4:]
            out[header] = ""
        elif header is not None:
            out[header] += line + "\n"
    return out


def diff(base_path: str, new_path: str) -> int:
    with open(base_path) as f:
        base = _blocks(f.read())
    with open(new_path) as f:
        new = _blocks(f.read())
    bad = 0
    for h in sorted(set(base) | set(new)):
        if h not in new or h not in base:
            print(f"only in {'base' if h in base else 'new'}: {h}")
            bad += 1
        elif base[h] != new[h]:
            print(f"differs: {h}")
            bad += 1
    print(f"{len(base)} base blocks, {len(new)} new blocks, {bad} differ")
    return 1 if bad else 0


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    from sems_event_deduplication_spark.conf import DedupConfig
    from sems_event_deduplication_spark.operators.incremental import (
        incremental_dedup, sign_batch,
    )
    from sems_event_deduplication_spark.plans.pipeline import DedupPipeline
    from sems_event_deduplication_spark.session import get_spark
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO
    from sems_event_deduplication_spark.synth import (
        AUDIO_CLIPS_SCHEMA, make_corpus_pdf,
    )

    spark = get_spark("stage-plans", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="stage_plans_")
    label = ""
    blocks: list[tuple[str, str]] = []

    def record(df, name):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        blocks.append((f"{label} {name}", _clean(plan, root)))

    checkpoint, chunked = WarehouseIO.checkpoint, WarehouseIO.checkpoint_chunked

    def wrapped_checkpoint(self, df, name, *args, **kwargs):
        record(df, name)
        return checkpoint(self, df, name, *args, **kwargs)

    def wrapped_chunked(self, df, name, *args, **kwargs):
        record(df, name)
        return chunked(self, df, name, *args, **kwargs)

    WarehouseIO.checkpoint = wrapped_checkpoint
    WarehouseIO.checkpoint_chunked = wrapped_chunked

    pdf = make_corpus_pdf(n_base=40, seed=42)
    corpus = spark.createDataFrame(pdf, schema=AUDIO_CLIPS_SCHEMA)
    spread_dir, single_dir = f"{root}/clips_spread", f"{root}/clips_single"
    corpus.repartition(8).write.parquet(spread_dir)
    corpus.coalesce(1).write.parquet(single_dir)
    spread, single = spark.read.parquet(spread_dir), spark.read.parquet(single_dir)

    offset = dict(with_offset_audio=True)
    matrix = [
        ("fused/audio", spread, {}, True),
        ("fused/text", spread, {}, False),
        ("dedup_first/audio", spread, dict(signature_scan_mode="dedup_first"), True),
        ("dedup_first/text", spread, dict(signature_scan_mode="dedup_first"), False),
        ("fused/offset_exact", spread, offset, True),
        ("fused/offset_count", spread, dict(offset, offset_verify_mode="count"), True),
        ("fused/chunks2", spread, dict(signature_chunks=2), True),
        ("fused/single_file", single, {}, True),
        ("dedup_first/single_file", single,
         dict(signature_scan_mode="dedup_first"), True),
    ]
    for i, (label, clips, overrides, with_audio) in enumerate(matrix):
        cfg = DedupConfig(**overrides)
        wh = WarehouseIO(spark, f"{root}/wh{i}")
        DedupPipeline(spark, cfg, wh).run(clips, with_audio=with_audio)

    label = "ingest"
    base = DedupConfig()
    record(sign_batch(spread, base), "sign_batch")
    record(sign_batch(spread, base, payload_col="bytes"), "sign_batch_payload")
    index = sign_batch(spread.filter("clip_id < 'c000020'"), base)
    batch = spread.filter("clip_id >= 'c000020'")
    for name, df in incremental_dedup(batch, index, base, persist=False).items():
        record(df, f"incremental_dedup.{name}")

    for header, plan in blocks:
        print(f"### {header}\n{plan}")
    print(f"{len(blocks)} blocks", file=sys.stderr)
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--diff", nargs=2, metavar=("BASE", "NEW"),
                    help="compare two saved outputs block by block")
    args = ap.parse_args()
    if args.diff:
        sys.exit(diff(*args.diff))
    main()
