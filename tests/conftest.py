from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sems_event_deduplication_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sems-dedup-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    from sems_event_deduplication_spark.synth import make_corpus_pdf

    return make_corpus_pdf(n_base=150, seed=42)


@pytest.fixture(scope="session")
def corpus(spark, corpus_pdf):
    from sems_event_deduplication_spark.synth import AUDIO_CLIPS_SCHEMA

    return spark.createDataFrame(corpus_pdf, schema=AUDIO_CLIPS_SCHEMA).cache()


@pytest.fixture
def viewfs_warehouse(spark, tmp_path):
    """(base_dir, real_dir): a scheme-less warehouse dir under a viewfs
    default filesystem that maps it onto ``real_dir``, a different local
    directory, as a cluster's ``fs.defaultFS`` maps driver-style paths
    onto HDFS or S3. Set on the session's Hadoop conf and restored
    afterwards; each use gets its own mount table, because the Hadoop
    FileSystem cache keeps a viewfs instance per authority."""
    import uuid

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    authority = f"wh{uuid.uuid4().hex[:12]}"
    virtual, real = tmp_path / "virtual", tmp_path / "real"
    real.mkdir()
    table = f"fs.viewfs.mounttable.{authority}"
    mounts = {
        f"{table}.link.{virtual}": f"file://{real}",
        f"{table}.linkFallback": "file:///",
    }
    default_fs = conf.get("fs.defaultFS")
    for k, v in mounts.items():
        conf.set(k, v)
    conf.set("fs.defaultFS", f"viewfs://{authority}/")
    try:
        yield str(virtual / "wh"), str(real / "wh")
    finally:
        conf.set("fs.defaultFS", default_fs)
        for k in mounts:
            conf.unset(k)


@pytest.fixture(scope="session")
def codegen_compiled(spark):
    """codegen_compiled() -> classes Spark's code generator has compiled
    in this JVM so far, read from CodegenMetrics (one compilation-time
    sample per generated-code cache miss), independently of the
    engine's own report."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """count_jobs(fn) -> Spark jobs ``fn()`` launched: those tagged with
    a fresh job group in this thread plus untagged ones (jobs submitted
    from helper threads do not inherit the group)."""
    import itertools

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    calls = itertools.count()

    def count(fn) -> int:
        bus.waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        group = f"count_jobs_{next(calls)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        tracker = sc.statusTracker()
        untagged = set(tracker.getJobIdsForGroup(None)) - before
        return len(tracker.getJobIdsForGroup(group)) + len(untagged)

    return count
