"""Round-6 optimization measurement harness (guide §1).

NOT part of the frozen bench contract — ``bench.py`` stays the driver's
timing methodology. This file exists so each timed leg can be isolated,
repeated, and explained without touching the frozen harness:

  python bench_extra.py --contract [name ...]  # per-query repeats + explain
  python bench_extra.py --audio [n]            # audio pipeline, labeled stages
  python bench_extra.py --text [n]             # text e2e repeats
  python bench_extra.py --explain              # write plans/r06/*_{when}.txt
  python bench_extra.py --pair <base-ref> [--workload W] [--seed S] [--pairs N]
                        [--trace 1]            # paired A/B of perfbench runs

Timing uses the same shapes as bench.py (toPandas for contract queries,
pipeline wall for audio). Per-layer and per-stage pipeline numbers come
from ``perfbench/run.py --trace 1``.

``--pair`` extracts ``<base-ref>`` with ``git archive`` into a temporary
directory and runs the benchmark declared in ``BENCHMARK.json``
(untraced unless ``--trace 1``), alternately in that tree and in this
checkout (one Spark process at a time, the side that goes first
alternating per pair, each run with its own cwd and ``PYTHONPATH``). It
prints, per workload and end-to-end metric, each side's median and
quartiles, the change's wins, whether the median gap exceeds the base's
interquartile range, whether the change is worse than the metric's
bound, whether a gain is shown (at least 9/10 pairs won, a better
median, and a median gap above the base's interquartile range), and
failed or incorrect runs. With ``--trace 1`` it also prints
each ``per_layer`` metric the traced results carry: median and
quartiles per side and wins, with no verdict (per-layer metrics have no
bound).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
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


def _perfbench(bench: dict, tree: str, workload: str, seed: int, trace: int) -> dict:
    """One benchmark run in ``tree``: its result JSON, or a failed run
    when it printed none."""
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    proc = subprocess.run(
        cmd, cwd=tree, env={**os.environ, "PYTHONPATH": tree},
        capture_output=True, text=True,
    )
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize_pairs(runs: dict, metrics: list[dict]) -> list[dict]:
    """One row per metric the paired runs of one workload carry.

    ``runs`` is ``{"base": [result, ...], "change": [result, ...]}`` in
    pair order, each result a benchmark result JSON. A pair counts as a
    win when the change reads better on it (ties count for neither).
    A metric with a ``bound`` (end to end) also gets a ``verdict``:
    "worse" when the change's median is worse than the base's by more
    than the bound, else "unresolved" when either side's interquartile
    range exceeds the bound (relative to its median) and not every
    change run beats every base run, else "within bound". It also gets
    ``gain_shown``, the claim rule of the benchmark method: the change
    wins at least 9 of every 10 pairs, its median is better, and the
    median gap exceeds the base's interquartile range. A metric
    without a bound (per layer) gets medians, quartiles and wins only."""
    bad = {
        side: sum(1 for r in rs if not r.get("correct") or r.get("failed", 0))
        for side, rs in runs.items()
    }
    rows = []
    for m in metrics:
        name, sign = m["name"], 1 if m["better"] == "higher" else -1
        vals = {
            side: [r["metrics"].get(name, {}).get("value") for r in rs]
            for side, rs in runs.items()
        }
        pairs = [
            (b, c) for b, c in zip(vals["base"], vals["change"])
            if b is not None and c is not None
        ]
        if not pairs:
            continue
        base = [v for v in vals["base"] if v is not None]
        change = [v for v in vals["change"] if v is not None]
        bq, cq = _quartiles(base), _quartiles(change)
        row = {
            "metric": name, "better": m["better"], "base": bq, "change": cq,
            "wins": sum(1 for b, c in pairs if sign * (c - b) > 0),
            "pairs": len(pairs), "bad_runs": bad,
        }
        rows.append(row)
        if "bound" not in m:
            continue
        rel = sign * (cq[1] - bq[1]) / (abs(bq[1]) or 1.0)
        gap_exceeds_iqr = abs(cq[1] - bq[1]) > bq[2] - bq[0]
        spread = max((q[2] - q[0]) / (abs(q[1]) or 1.0) for q in (bq, cq))
        all_better = min(sign * c for c in change) > max(sign * b for b in base)
        if rel < -m["bound"]:
            verdict = "worse"
        elif spread > m["bound"] and not all_better:
            verdict = "unresolved"
        else:
            verdict = "within bound"
        row.update(
            bound=m["bound"],
            gap_exceeds_base_iqr=gap_exceeds_iqr,
            worse_than_bound=rel < -m["bound"],
            verdict=verdict,
            gain_shown=(
                10 * row["wins"] >= 9 * row["pairs"] and rel > 0
                and gap_exceeds_iqr
            ),
        )
    return rows


def format_pair_rows(workload: str, rows: list[dict]) -> list[str]:
    def q(t):
        return f"{t[1]:.4g} ({t[0]:.4g}-{t[2]:.4g})"

    def line(r):
        head = (
            f"base {q(r['base'])} | change {q(r['change'])} | "
            f"wins {r['wins']}/{r['pairs']}"
        )
        if "verdict" not in r:
            return f"{workload} {r['metric']} [{r['better']}, per layer]: {head}"
        return (
            f"{workload} {r['metric']} [{r['better']}, bound {r['bound']}]: "
            f"{head} | "
            f"gap > base IQR: {'yes' if r['gap_exceeds_base_iqr'] else 'no'} | "
            f"worse than bound: {'yes' if r['worse_than_bound'] else 'no'} | "
            f"{r['verdict']} | "
            f"gain shown: {'yes' if r['gain_shown'] else 'no'} | "
            f"failed or incorrect runs: "
            f"base {r['bad_runs']['base']}, change {r['bad_runs']['change']}"
        )

    return [line(r) for r in rows]


def run_pair(
    base_ref: str, workloads: list[str], seed: int, pairs: int, trace: int = 0
) -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] + (bench["per_layer"] if trace else [])
    base_tree = tempfile.mkdtemp(prefix="ab_base_")
    try:
        archive = subprocess.run(
            ["git", "archive", base_ref], cwd=REPO, capture_output=True, check=True
        )
        subprocess.run(
            ["tar", "-x", "-C", base_tree], input=archive.stdout, check=True
        )
        trees = {"base": base_tree, "change": REPO}
        out = {}
        for w in workloads:
            runs: dict = {"base": [], "change": []}
            for i in range(pairs):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                for side in order:
                    runs[side].append(_perfbench(bench, trees[side], w, seed, trace))
            out[w] = runs
            for line in format_pair_rows(w, summarize_pairs(runs, metrics)):
                print(line, flush=True)
        return out
    finally:
        shutil.rmtree(base_tree, ignore_errors=True)


def main():
    if "--pair" in sys.argv:
        ap = argparse.ArgumentParser(description="paired A/B of perfbench runs")
        ap.add_argument("--pair", required=True, metavar="BASE_REF")
        ap.add_argument("--workload", action="append",
                        choices=["audio_batch", "daily_ingest"])
        ap.add_argument("--seed", type=int, default=1)
        ap.add_argument("--pairs", type=int, default=5)
        ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
        args = ap.parse_args()
        workloads = args.workload or ["audio_batch", "daily_ingest"]
        print(json.dumps(
            run_pair(args.pair, workloads, args.seed, args.pairs, args.trace)
        ))
        return
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
    print("usage: bench_extra.py --contract|--explain|--audio|--text|--pair")


if __name__ == "__main__":
    main()
