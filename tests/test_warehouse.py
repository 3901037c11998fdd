"""WarehouseIO: chunked incremental commits (S8) + bucketed join layout."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from sems_event_deduplication_spark.sources.warehouse import WarehouseIO


def _df(spark, n=100):
    return spark.createDataFrame(
        pd.DataFrame({"clip_id": [f"c{i:04d}" for i in range(n)], "v": range(n)})
    )


def test_checkpoint_chunked_roundtrip_and_resume(spark, tmp_path):
    wh = WarehouseIO(spark, str(tmp_path))
    df = _df(spark)
    out = wh.checkpoint_chunked(df, "stage_a", "clip_id", n_chunks=4)
    assert out.count() == 100
    assert set(out.columns) == {"clip_id", "v"}
    base = os.path.join(str(tmp_path), "stage_a")
    chunks = sorted(d for d in os.listdir(base) if d.startswith("chunk="))
    assert len(chunks) == 4
    assert all(os.path.exists(os.path.join(base, c, "_SUCCESS")) for c in chunks)

    # simulate a mid-stage kill: nuke two chunks' commit markers and
    # poison their data — resume must rewrite ONLY those chunks
    import shutil

    for c in chunks[:2]:
        shutil.rmtree(os.path.join(base, c))
    kept_mtime = {
        c: os.path.getmtime(os.path.join(base, c, "_SUCCESS")) for c in chunks[2:]
    }
    out2 = wh.checkpoint_chunked(df, "stage_a", "clip_id", n_chunks=4, resume=True)
    assert out2.count() == 100
    for c in chunks[2:]:
        assert os.path.getmtime(os.path.join(base, c, "_SUCCESS")) == kept_mtime[c]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on clip_id joined on clip_id must plan with
    zero Exchange operators — the shuffle-free 100 TB payload
    re-attach layout referenced by exact_dedup_with_edges. Broadcast
    is disabled for the assertion: at the scale this layout exists for,
    neither side broadcasts, and the point is that the sort-merge join
    then needs NO shuffle (at test sizes the planner would otherwise
    just broadcast the small side and never exercise the bucketing)."""
    wh = WarehouseIO(spark, str(tmp_path))
    big = wh.save_bucketed(_df(spark, 200), "wt_payload", "clip_id", n_buckets=8)
    ids = wh.save_bucketed(
        _df(spark, 200).select("clip_id").sample(0.5, seed=1),
        "wt_keepers", "clip_id", n_buckets=8,
    )
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        joined = big.join(ids, "clip_id", "left_semi")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
        spark.sql("DROP TABLE IF EXISTS wt_payload")
        spark.sql("DROP TABLE IF EXISTS wt_keepers")


def test_checkpoint_chunked_stale_chunks_cleared(spark, tmp_path):
    """A fresh (non-resume) run with fewer chunks must not read back
    stale chunk dirs from an earlier larger-n_chunks run, and a resume
    under a CHANGED chunk config must invalidate the old layout
    (committed chunks hold rows assigned under a different modulus)."""
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    wh = WarehouseIO(spark, str(tmp_path))
    df = spark.range(100).select(F.col("id").cast("string").alias("clip_id"))

    out4 = wh.checkpoint_chunked(df, "s", "clip_id", n_chunks=4)
    assert out4.count() == 100
    out2 = wh.checkpoint_chunked(df, "s", "clip_id", n_chunks=2)
    assert out2.count() == 100  # was 160 with stale chunk=2..3 leaking in

    # resume with a different n_chunks: marker mismatch -> full rebuild
    out3 = wh.checkpoint_chunked(df, "s", "clip_id", n_chunks=3, resume=True)
    assert out3.count() == 100
    assert sorted(r["clip_id"] for r in out3.collect()) == sorted(
        str(i) for i in range(100)
    )


def test_chunk_key_desc_stable_for_columns():
    """The resume marker for a Column chunk key derives from the
    expression's canonical SQL, not Column.__str__ (whose expr ids
    churn per session and would spuriously invalidate resumable
    layouts)."""
    d1 = WarehouseIO._chunk_key_desc(F.pmod(F.xxhash64(F.col("clip_id")), F.lit(8)))
    d2 = WarehouseIO._chunk_key_desc(F.pmod(F.xxhash64(F.col("clip_id")), F.lit(8)))
    assert d1 == d2
    assert "#" not in d1  # no per-session expression ids
    assert WarehouseIO._chunk_key_desc("clip_id") == "clip_id"


def test_checkpoint_chunked_date_aligned_prunes_scan(spark, tmp_path):
    """S8 at the 100 TB shape: when the chunk key aligns with the
    input's partition layout (ingest-day directories), each chunk
    pass's scan prunes to its own partitions instead of re-reading the
    corpus — PartitionFilters must be non-empty for the per-chunk
    filter."""
    src = str(tmp_path / "src")
    df = spark.range(200).select(
        F.col("id").cast("string").alias("clip_id"),
        (F.col("id") % 8).cast("int").alias("ingest_day"),
    )
    df.write.partitionBy("ingest_day").mode("overwrite").parquet(src)
    back = spark.read.parquet(src)

    wh = WarehouseIO(spark, str(tmp_path / "wh"))
    chunk_key = F.pmod(F.col("ingest_day"), F.lit(4))
    out = wh.checkpoint_chunked(back, "aligned", chunk_key, n_chunks=4)
    assert out.count() == 200

    # the exact per-chunk filter checkpoint_chunked applies must reach
    # the scan as a partition filter (directory pruning, not row filter)
    probe = back.filter(chunk_key == 0)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "PartitionFilters: []" not in plan, plan

    # resume with the identical Column key reuses every committed chunk
    mtimes = {
        i: os.path.getmtime(
            os.path.join(str(tmp_path / "wh"), "aligned", f"chunk={i}", "_SUCCESS")
        )
        for i in range(4)
    }
    out2 = wh.checkpoint_chunked(back, "aligned", chunk_key, n_chunks=4, resume=True)
    assert out2.count() == 200
    for i in range(4):
        assert os.path.getmtime(
            os.path.join(str(tmp_path / "wh"), "aligned", f"chunk={i}", "_SUCCESS")
        ) == mtimes[i]


def test_warehouse_hadoop_fs_branch_via_file_uri(spark, tmp_path):
    """A URI-schemed base dir (here file://, the same Hadoop FileSystem
    path as hdfs:// or s3a://) supports markers, cleanup and chunked
    resume end-to-end."""
    base = f"file://{tmp_path}/wh_uri"
    wh = WarehouseIO(spark, base)
    df = _df(spark, 60)
    out = wh.checkpoint_chunked(df, "s", "clip_id", n_chunks=3)
    assert out.count() == 60
    # marker + _SUCCESS visible through the Hadoop API
    assert wh._fs_exists(os.path.join(base, "s", "_chunking"))
    out2 = wh.checkpoint_chunked(df, "s", "clip_id", n_chunks=3, resume=True)
    assert out2.count() == 60
    # plain save/exists/load/drop on the URI path
    wh.save(df, "t")
    assert wh.exists("t")
    assert wh.load_clean("t").count() == 60
    wh.drop("t")
    assert not wh.exists("t")


def test_checkpoint_read_back_launches_no_job(spark, tmp_path, count_jobs):
    """``checkpoint`` runs exactly the jobs of the write: the read-back
    supplies the written schema instead of inferring it from a
    footer."""
    wh = WarehouseIO(spark, str(tmp_path))
    df = _df(spark).withColumn("tags", F.array(F.col("clip_id")))
    n_save = count_jobs(lambda: wh.save(df, "saved"))
    out = None

    def run():
        nonlocal out
        out = wh.checkpoint(df, "checkpointed")

    assert count_jobs(run) == n_save
    assert out.schema == wh.load_clean("checkpointed").schema
    assert sorted(out.collect()) == sorted(df.collect())


def test_rows_written_from_observations(spark, tmp_path, count_jobs):
    """Each checkpoint reports the rows it wrote, read from an
    Observation on the write (no extra job); one that loaded committed
    rows, or never ran, reports -1. Chunk writes are observed after the
    chunk filter, which still reaches below the upstream work: every
    row is computed once, not once per chunk."""
    wh = WarehouseIO(spark, str(tmp_path))
    assert wh.rows_written("never") == -1
    df = _df(spark, 60)
    n_save = count_jobs(lambda: wh.save(df, "saved"))
    assert count_jobs(lambda: (wh.checkpoint(df, "t"), wh.rows_written("t"))) == n_save
    assert wh.rows_written("t") == 60
    wh.checkpoint(df, "t", resume=True)
    assert wh.rows_written("t") == -1
    wh.checkpoint(df.limit(0), "empty")
    assert wh.rows_written("empty") == 0

    calls = spark.sparkContext.accumulator(0)

    def tag(clip_id):
        calls.add(1)
        return clip_id

    signed = df.withColumn("sig", F.udf(tag, "string")("clip_id"))
    wh.checkpoint_chunked(signed, "c", "clip_id", n_chunks=4)
    assert wh.rows_written("c") == 60
    assert calls.value == 60
    os.remove(os.path.join(str(tmp_path), "c", "chunk=1", "_SUCCESS"))
    wh.checkpoint_chunked(signed, "c", "clip_id", n_chunks=4, resume=True)
    assert wh.rows_written("c") == -1  # three chunks were loaded


def test_scheme_less_base_resumes_on_default_fs(spark, viewfs_warehouse):
    """A base dir with no scheme is written to ``fs.defaultFS``, and the
    commit-marker check that resume relies on looks there too: after a
    save the stage exists, and a resumed checkpoint loads it instead of
    writing it again."""
    base, real = viewfs_warehouse
    wh = WarehouseIO(spark, base)
    df = _df(spark, 10)
    wh.save(df, "signatures")
    assert os.path.exists(os.path.join(real, "signatures", "_SUCCESS"))
    assert wh.exists("signatures")

    wh.checkpoint(df, "t")
    assert wh.rows_written("t") == 10
    out = wh.checkpoint(df, "t", resume=True)
    assert wh.rows_written("t") == -1
    assert sorted(out.collect()) == sorted(df.collect())


def test_scheme_less_base_chunked_resume_on_default_fs(spark, viewfs_warehouse):
    """Chunked checkpoints under a viewfs default filesystem: the
    ``_chunking`` marker and each chunk's ``_SUCCESS`` are read where
    the chunks were written, so a resume rewrites only the missing
    chunk."""
    base, real = viewfs_warehouse
    wh = WarehouseIO(spark, base)
    df = _df(spark, 60)
    wh.checkpoint_chunked(df, "c", "clip_id", n_chunks=4)
    assert wh.rows_written("c") == 60

    def marker(i):
        return os.path.join(real, "c", f"chunk={i}", "_SUCCESS")

    os.remove(marker(1))
    kept = {i: os.path.getmtime(marker(i)) for i in (0, 2, 3)}
    out = wh.checkpoint_chunked(df, "c", "clip_id", n_chunks=4, resume=True)
    assert wh.rows_written("c") == -1  # three chunks were loaded
    assert os.path.exists(marker(1))
    assert {i: os.path.getmtime(marker(i)) for i in kept} == kept
    assert sorted(out.collect()) == sorted(df.collect())
