"""Round-6 optimization measurement harness (guide §1).

NOT part of the frozen bench contract — ``bench.py`` stays the driver's
timing methodology. This file exists so each timed leg can be isolated,
repeated, and explained without touching the frozen harness:

  python bench_extra.py --contract [name ...]  # per-query repeats + explain
  python bench_extra.py --audio [n]            # audio pipeline, labeled stages
  python bench_extra.py --text [n]             # text e2e repeats
  python bench_extra.py --explain              # write plans/r06/*_{when}.txt

Timing uses the same shapes as bench.py (toPandas for contract queries,
pipeline wall for audio). Per-layer and per-stage pipeline numbers come
from ``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CONTRACT_QUERIES = [
    "minhash_md5_signature",
    "jaccard_pairs_topk",
    "session_count_per_user",
    "lineitem_agg",
    "revenue_by_segment",
    "embedding_cosine_topk",
]


def _spark():
    from sems_event_deduplication_spark.session import get_spark

    spark = get_spark(f"bench-extra-{CPUS}", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_contract(names: list[str], reps: int = 4) -> dict:
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    out: dict[str, list[float]] = {}
    for name in names:
        times = []
        for _ in range(reps):
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).toPandas()
            times.append(round(time.monotonic() - t0, 3))
        out[name] = times
    return out


def write_explains(names: list[str], when: str) -> None:
    import contextlib
    import io

    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(REPO, "plans", "r06", f"{name}_{when}.txt"), "w") as f:
            f.write(buf.getvalue())


def run_audio(reps: int = 1) -> dict:
    if reps < 1:
        return {"n_clips": 0, "runs": []}
    import bench as B

    spark = _spark()
    out = []
    corpus_dir = os.environ.get("SPARK_GRAFT_CORPUS")
    n = 0
    for _ in range(reps):
        n, wall, stages, corpus_dir = B.run_audio_dedup(spark, corpus_dir)
        out.append({"wall": round(wall, 3), "stages": stages})
    return {"n_clips": n, "runs": out}


def run_text(reps: int = 2) -> dict:
    import bench as B

    spark = _spark()
    B.run_text_dedup(spark, SF_DIR, CPUS, limit=200)  # warmup, as bench does
    times = []
    for _ in range(reps):
        t0 = time.monotonic()
        B.run_text_dedup(spark, SF_DIR, CPUS)
        times.append(round(time.monotonic() - t0, 3))
    return {"text_dedup_e2e": times}


def main():
    if "--contract" in sys.argv:
        i = sys.argv.index("--contract")
        names = [a for a in sys.argv[i + 1 :] if not a.startswith("-")] or CONTRACT_QUERIES
        print(json.dumps(run_contract(names)))
        return
    if "--explain" in sys.argv:
        i = sys.argv.index("--explain")
        rest = [a for a in sys.argv[i + 1 :] if not a.startswith("-")]
        when = rest[0] if rest else "before"
        names = rest[1:] or CONTRACT_QUERIES
        write_explains(names, when)
        print(json.dumps({"wrote": names, "when": when}))
        return
    if "--audio" in sys.argv:
        i = sys.argv.index("--audio")
        reps = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 and sys.argv[i + 1].isdigit() else 1
        print(json.dumps(run_audio(reps)))
        return
    if "--text" in sys.argv:
        i = sys.argv.index("--text")
        reps = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 and sys.argv[i + 1].isdigit() else 2
        print(json.dumps(run_text(reps)))
        return
    print("usage: bench_extra.py --contract|--explain|--audio|--text")


if __name__ == "__main__":
    main()
