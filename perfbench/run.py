"""Benchmark of the dedup engine, run from the root of a checkout:

    python3 perfbench/run.py --workload audio_batch --seed 1 --seconds 15 --trace 0

It starts one local[nproc] Spark session, generates the workload's input
from the seed, sets up (warm-up passes, and for daily_ingest the standing
index), then runs timed passes until ``--seconds`` have passed, checking
every pass against the generator's ground truth. The last line of stdout
is the result JSON; the line before it is a report with the host and
config stamp, input checksums and the exact counters. ``--trace 1``
instead runs one untraced and one decomposed, traced pass and reports
the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sems_event_deduplication_spark"
MAX_FAILED_PASSES = 3
DRIVER_MEM = "3g"

PER_LAYER = {
    "session.start_s": "s",
    "audio.sign_s": "s", "audio.payload_mb": "MB",
    "minhash.sign_s": "s",
    "exact_dedup.edges_s": "s", "exact_dedup.edges": "count",
    "lsh.buckets_s": "s", "lsh.candidates_s": "s", "lsh.candidates": "count",
    "lsh.star_buckets": "count", "lsh.pairs_not_enumerated": "count",
    "verify.jaccard_s": "s", "verify.hamming_s": "s", "verify.containment_s": "s",
    "verify.verified_pairs": "count", "verify.yield": "ratio",
    "components.cc_s": "s", "components.assign_s": "s",
    "components.cc_edges": "count", "components.cc_iterations": "count",
    "survivors.outputs_s": "s", "warehouse.write_s": "s", "warehouse.mb_written": "MB",
    "incremental.sign_s": "s", "incremental.exact_s": "s",
    "incremental.candidates_s": "s", "incremental.verify_s": "s",
    "incremental.append_s": "s", "incremental.load_index_s": "s",
    "incremental.index_file_scans": "count", "incremental.candidates": "count",
    "stream.batches": "count", "stream.state_rows": "count",
    "stream.pairs_emitted": "count",
    "pipeline.spark_jobs": "count",
    **{f"pipeline.stage.{s}_s": "s" for s in (
        "signatures", "exact_edges", "exact_auto_count", "verified_pairs",
        "cc_fixpoint", "lsh_stats_collect", "components", "survivors", "clusters",
    )},
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.executor_cpu_s": "s", "spark.tasks": "count",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.coverage": "ratio",
}


class RssSampler:
    """Peak memory summed over this process and every process under it
    (the Spark JVM and its Python workers), sampled every 0.2 s. Each
    process counts its proportional set size, so pages the forked Python
    workers share are counted once."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(ln for ln in f if ln.startswith("Pss:"))
                total += int(pss.split()[1]) * 1024
            except (OSError, StopIteration, IndexError, ValueError):
                continue
        return total

    def _loop(self):
        while not self._stop.wait(0.2):
            self.peak = max(self.peak, self._tree_rss())

    def reset(self):
        self.peak = self._tree_rss()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


def host_stamp(spark, nproc: int) -> dict:
    import pyspark

    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {
        "host": platform.node(), "cpu": cpu, "nproc": nproc,
        "cpu_count": os.cpu_count(), "mem_gb": round(mem_gb, 1),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }


def run(args, work: str) -> tuple[dict, dict]:
    from dataclasses import asdict

    from sems_event_deduplication_spark.session import get_spark

    import workloads as W

    nproc = len(os.sched_getaffinity(0))
    rss = RssSampler()
    t0 = time.monotonic()
    spark = get_spark(
        f"perfbench-{args.workload}", cores=nproc, shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - t0
    try:
        wl = W.WORKLOADS[args.workload](spark, work, args.seed)
        t_gen = time.monotonic()
        inputs = wl.generate()
        gen_s = time.monotonic() - t_gen

        t0 = time.monotonic()
        wl.build()
        build_s = time.monotonic() - t0
        t0 = time.monotonic()
        wl.warmup()
        warm_s = time.monotonic() - t0
        setup_s = session_s + build_s + warm_s

        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace,
            "stamp": host_stamp(spark, nproc),
            "dedup_config": asdict(wl.cfg), "workload_config": wl.config(),
            "inputs": inputs,
            "setup": {
                "session_s": session_s, "build_s": build_s, "warmup_s": warm_s,
                "input_generation_s": gen_s,
                "process_to_first_pass_s": time.monotonic() - T_START,
            },
        }
        if args.trace:
            return traced(args, spark, wl, report, session_s), report
        return timed(args, wl, report, setup_s, rss), report
    finally:
        rss.stop()
        stop_spark(spark)


def timed(args, wl, report: dict, setup_s: float, rss) -> dict:
    passes, errors = [], []
    t_win = time.monotonic()
    i = 0
    while i < wl.max_passes and (
        len(passes) < wl.min_passes or time.monotonic() - t_win < args.seconds
    ):
        try:
            rss.reset()
            p = wl.run_pass(i)
            p["peak_mb"] = rss.peak / 1e6
            passes.append(p)
        except Exception:  # a pass that raises counts as failed; go on
            errors.append(traceback.format_exc(limit=5))
            if len(errors) >= MAX_FAILED_PASSES:
                break
        i += 1
    checks = [ok for p in passes for ok in p["checks"]]
    attempted = len(checks) + len(errors)
    failed = checks.count(False) + len(errors)
    med = statistics.median
    metrics = {
        "clips_per_s": (med([p["units"] / p["wall"] for p in passes]) if passes else 0.0, "1/s"),
        "batch_p50_s": (med([w for p in passes for w in p["batch_walls"]]) if passes else 0.0, "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (med([p["peak_mb"] for p in passes]) if passes else 0.0, "MB"),
        "planted_recall": (med([p["recall"] for p in passes]) if passes else 0.0, "ratio"),
        "pair_precision": (med([p["precision"] for p in passes]) if passes else 0.0, "ratio"),
    }
    report["passes"] = [
        {k: v for k, v in p.items() if k not in ("checks",)} for p in passes
    ]
    report["errors"] = errors
    report["failed_ratio"] = failed / max(1, attempted)
    report["counters"] = passes[0]["counters"] if passes else {}
    report["window_s"] = time.monotonic() - t_win
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": max(1, attempted), "failed": failed if attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced(args, spark, wl, report: dict, session_s: float) -> dict:
    from tracing import Tracer

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    try:
        untraced = wl.run_pass(0)
        tr = Tracer(spark, f"{args.workload}-{args.seed}")
        res = wl.traced_pass(tr)
        tr.finish()
    except Exception:  # reported as a failed run, with every metric present
        report["errors"] = [traceback.format_exc(limit=5)]
        return {
            "correct": False, "attempted": 1, "failed": 1,
            "metrics": {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()},
        }

    m.update(untraced.get("counters", {}))
    m.update(untraced.get("spark", {}))
    m.pop("spark.jobs", None)
    for stage, sec in untraced.get("stages", {}).items():
        m[f"pipeline.stage.{stage}_s"] = sec
    m.update(res["metrics"])
    for name, sec in tr.layer_self_seconds().items():
        if f"{name}_s" in PER_LAYER:
            m[f"{name}_s"] = sec
    root = next(s for s in tr.spans if s["name"] == "pass")
    root_wall = root["end"] - root["start"]
    m["trace.pass_s"] = root_wall
    m["trace.overhead_s"] = res.get("same_work_s", root_wall) - untraced["wall"]
    m["trace.coverage"] = tr.coverage(root["id"])

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json")
    tr.dump(spans_path)
    report["trace"] = {
        "spans_json": os.path.relpath(spans_path, ROOT),
        "self_time_table": tr.table().splitlines(),
        "untraced_pass_s": untraced["wall"], "traced_pass_s": root_wall,
        "overhead_s": m["trace.overhead_s"], "coverage": m["trace.coverage"],
        "latency_vs_increments": res.get("latency_vs_increments"),
        "untraced_pass": {k: v for k, v in untraced.items() if k != "checks"},
        "traced_check": res.get("check"),
        "stream_leg": res.get("stream"),
    }
    print(tr.table(), flush=True)
    checks = list(untraced["checks"])
    if res.get("check") is not None:
        checks.append(res["check"]["ok"])
    failed = checks.count(False)
    return {
        "correct": failed == 0, "attempted": len(checks), "failed": failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()},
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["audio_batch", "daily_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    # every file Spark, its JVM and its Python workers write stays in
    # the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the heap is committed at its full size from the start: a heap that
    # grows on demand made the first passes and the peak memory vary
    # from run to run. No perf-data file: the JVM would write it to /tmp.
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
