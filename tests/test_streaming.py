"""Structured Streaming front-end: exact dedup + windowed fingerprints."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sems_event_deduplication_spark.streaming.stream_dedup import (
    run_stream_to_memory,
    streaming_exact_dedup,
    streaming_signature_counts,
)


@pytest.fixture(scope="module")
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_src_")
    rows = []
    base = pd.Timestamp("2024-01-01")
    for i in range(20):
        rows.append(
            {
                "clip_id": f"s{i:02d}",
                "ts": base + pd.Timedelta(minutes=i),
                "transcript": "same text" if i % 4 == 0 else f"text number {i}",
                "bytes": b"\x01\x02" if i % 4 == 0 else bytes([i]),
            }
        )
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(os.path.join(d, "batch"))
    return os.path.join(d, "batch")


def _read_stream(spark, path):
    static = spark.read.parquet(path)
    return spark.readStream.schema(static.schema).parquet(path)


def test_streaming_exact_dedup(spark, stream_dir):
    deduped = streaming_exact_dedup(_read_stream(spark, stream_dir))
    name = run_stream_to_memory(deduped, "t_stream_dedup", "append")
    out = spark.table(name).collect()
    # 5 exact dups (i % 4 == 0 share text+bytes) collapse to 1
    assert len(out) == 16


def test_streaming_signature_counts(spark, stream_dir):
    agg = streaming_signature_counts(_read_stream(spark, stream_dir), window="10 minutes")
    name = run_stream_to_memory(agg, "t_stream_counts", "complete")
    rows = spark.table(name).collect()
    assert sum(r["n_clips"] for r in rows) == 20
    assert all(r["approx_distinct_fps"] <= r["n_clips"] for r in rows)


def test_streaming_neardup_candidates(spark):
    """Stateful near-dup detection: planted near-identical transcripts
    arriving later must pair with the earlier member; unrelated texts
    must not pair. Multiplicity-stressing fixture: n_bucket_keys=8, so
    each planted pair shares many bucket keys and is emitted several
    times (at-least-once) — every emission must be the CANONICAL
    (least, greatest) row, and the distinct pair set must be exactly
    the planted pairs."""
    import tempfile

    from sems_event_deduplication_spark.streaming.stream_dedup import (
        streaming_neardup_candidates,
    )

    d = tempfile.mkdtemp(prefix="stream_nd_")
    base = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(12):
        rows.append({
            "clip_id": f"a{i:02d}",
            "ts": base + pd.Timedelta(minutes=i),
            "transcript": f"cyclone eloise slams into mozambique incident {i} "
                          f"kuri{i} zalo{i} tenka{i} dolmen{i}",
        })
    # late near-dups of a03 and a07 (one-word tail change); 'dup03' >
    # 'a03' and 'dup07' > 'a07' lexicographically, so the canonical
    # orientation puts the EARLIER member first here
    rows.append({"clip_id": "dup03", "ts": base + pd.Timedelta(minutes=20),
                 "transcript": "cyclone eloise slams into mozambique incident 3 "
                               "kuri3 zalo3 tenka3 dolmen3 extra"})
    rows.append({"clip_id": "dup07", "ts": base + pd.Timedelta(minutes=21),
                 "transcript": "cyclone eloise slams into mozambique incident 7 "
                               "kuri7 zalo7 tenka7 dolmen7 extra"})
    path = os.path.join(d, "batch")
    # row-based source: Spark 4's stateful-op planner misses the
    # columnar->row transition between a vectorized parquet scan and the
    # applyInPandasWithState exchange (ClassCastException: ColumnarBatchRow)
    spark.createDataFrame(pd.DataFrame(rows)).write.json(path)
    static = spark.read.json(path)
    stream = spark.readStream.schema(static.schema).json(path)
    pairs = streaming_neardup_candidates(
        stream, min_est_jaccard=0.5, n_bucket_keys=8
    )
    name = run_stream_to_memory(pairs, "t_stream_neardup", "append")
    raw = [(r["id_a"], r["id_b"]) for r in spark.table(name).collect()]
    got = set(raw)
    assert got == {("a03", "dup03"), ("a07", "dup07")}, raw
    # the fixture must actually stress multiplicity: at-least-once
    # delivery repeats the canonical row, it never flips orientation
    assert len(raw) > len(got), raw
    assert all(a < b for a, b in raw), raw


def test_kmv_est_many_matches_scalar_oracle():
    """Vectorized KMV vs the scalar union formula with k=min(|A|,|B|),
    across unequal sketch lengths (the ADVICE deflation case)."""
    from sems_event_deduplication_spark.streaming.stream_dedup import kmv_est_many

    rng = np.random.default_rng(3)
    K = 16
    sentinel = np.iinfo(np.int64).max

    def scalar(a, b):
        k = min(len(a), len(b))
        union = np.union1d(a, b)[:k]
        both = np.intersect1d(np.intersect1d(union, a), b)
        return len(both) / max(1, k)

    universe = rng.choice(10_000, size=600, replace=False).astype(np.int64)
    sketches = []
    for _ in range(25):
        n = int(rng.integers(2, K + 1))
        vals = np.sort(rng.choice(universe, size=n, replace=False))
        sketches.append(vals)
    # include a short sketch vs long sketch pairing explicitly
    sketches.append(np.sort(sketches[0][:3]))

    stored = np.full((len(sketches), K), sentinel, dtype=np.int64)
    lens = np.zeros(len(sketches), dtype=np.int64)
    for i, s in enumerate(sketches):
        stored[i, : len(s)] = s
        lens[i] = len(s)
    for new in sketches[:6]:
        got = kmv_est_many(new, stored, lens)
        want = [scalar(new, s) for s in sketches]
        assert np.allclose(got, want), (got, want)


def test_kmv_est_expr_matches_vectorized_oracle(spark):
    """The JVM-native KMV estimate (kmv_est_expr, used by the join
    operator) must equal kmv_est_many's arithmetic on the same sketch
    pairs — including unequal lengths and empty sketches."""
    from sems_event_deduplication_spark.streaming.stream_dedup import (
        kmv_est_expr, kmv_est_many,
    )

    rng = np.random.default_rng(11)
    K = 16
    sentinel = np.iinfo(np.int64).max
    rows = []
    for i in range(40):
        na, nb = int(rng.integers(0, K + 1)), int(rng.integers(0, K + 1))
        pool = np.sort(rng.choice(5_000, size=K * 2, replace=False)).astype(np.int64)
        a = np.sort(rng.choice(pool, size=na, replace=False)) if na else np.array([], dtype=np.int64)
        b = np.sort(rng.choice(pool, size=nb, replace=False)) if nb else np.array([], dtype=np.int64)
        rows.append({"i": i, "a": [int(v) for v in a], "b": [int(v) for v in b]})
    df = spark.createDataFrame(
        pd.DataFrame(rows), schema="i int, a array<long>, b array<long>"
    )
    got = {
        r["i"]: r["est"]
        for r in df.select(
            "i", kmv_est_expr(F.col("a"), F.col("b")).alias("est")
        ).collect()
    }
    for row in rows:
        a = np.asarray(row["a"], dtype=np.int64)
        b = np.asarray(row["b"], dtype=np.int64)
        if len(b) == 0 or len(a) == 0:
            want = 0.0
        else:
            stored = np.full((1, K), sentinel, dtype=np.int64)
            stored[0, : len(b)] = b
            want = float(kmv_est_many(a, stored, np.array([len(b)]))[0])
        assert abs(got[row["i"]] - want) < 1e-9, (row, got[row["i"]], want)


def test_streaming_neardup_join_candidates(spark):
    """The native stream-stream join operator must recover exactly the
    planted pairs of the stateful fixture, with the same canonical
    (least, greatest) orientation contract — and a pair older than the
    join horizon must NOT be emitted (time-bounded state is the
    operator's eviction story)."""
    from sems_event_deduplication_spark.streaming.stream_dedup import (
        streaming_neardup_join_candidates,
    )

    d = tempfile.mkdtemp(prefix="stream_ndj_")
    base = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(12):
        rows.append({
            "clip_id": f"a{i:02d}",
            "ts": base + pd.Timedelta(minutes=i),
            "transcript": f"cyclone eloise slams into mozambique incident {i} "
                          f"kuri{i} zalo{i} tenka{i} dolmen{i}",
        })
    rows.append({"clip_id": "dup03", "ts": base + pd.Timedelta(minutes=20),
                 "transcript": "cyclone eloise slams into mozambique incident 3 "
                               "kuri3 zalo3 tenka3 dolmen3 extra"})
    rows.append({"clip_id": "dup07", "ts": base + pd.Timedelta(minutes=21),
                 "transcript": "cyclone eloise slams into mozambique incident 7 "
                               "kuri7 zalo7 tenka7 dolmen7 extra"})
    # beyond-horizon dup of a00: arrives 3 h of EVENT time later than
    # a00 with a 60-min horizon -> must not pair
    rows.append({"clip_id": "late00", "ts": base + pd.Timedelta(hours=3),
                 "transcript": "cyclone eloise slams into mozambique incident 0 "
                               "kuri0 zalo0 tenka0 dolmen0 extra"})
    path = os.path.join(d, "batch")
    spark.createDataFrame(pd.DataFrame(rows)).write.json(path)
    static = spark.read.json(path)
    stream = spark.readStream.schema(static.schema).json(path)
    pairs = streaming_neardup_join_candidates(
        stream, min_est_jaccard=0.5, n_bucket_keys=8
    )
    name = run_stream_to_memory(pairs, "t_stream_ndjoin", "append")
    raw = [(r["id_a"], r["id_b"]) for r in spark.table(name).collect()]
    got = set(raw)
    assert got == {("a03", "dup03"), ("a07", "dup07")}, raw
    # at-least-once: repeats are the canonical row, never a mirror
    assert len(raw) > len(got), raw
    assert all(a < b for a, b in raw), raw


def test_streaming_join_bucket_stoplist(spark):
    """Hot-bucket shedding: a boilerplate transcript repeated 10x emits
    the full quadratic pair set (45 pairs) without a stop-list; with
    the keys reported by ``hot_bucket_keys`` over the same corpus
    stop-listed, those pairs vanish while an unrelated genuine dup
    pair is still found. Both stop-list forms (static DataFrame ->
    stream-static left-anti; collected values -> literal isin) must
    agree."""
    from sems_event_deduplication_spark.streaming.stream_dedup import (
        hot_bucket_keys,
        streaming_neardup_candidates,
        streaming_neardup_join_candidates,
    )

    d = tempfile.mkdtemp(prefix="stream_stop_")
    base = pd.Timestamp("2024-01-01")
    rows = [
        {"clip_id": f"boiler{i:02d}", "ts": base + pd.Timedelta(minutes=i),
         "transcript": "subscribe to our newsletter for daily updates and alerts"}
        for i in range(10)
    ]
    rows.append({"clip_id": "orig", "ts": base + pd.Timedelta(minutes=12),
                 "transcript": "cyclone eloise slams into mozambique overnight "
                               "with torrential rain and flooding"})
    rows.append({"clip_id": "echo", "ts": base + pd.Timedelta(minutes=14),
                 "transcript": "cyclone eloise slams into mozambique overnight "
                               "with torrential rain and flooding reports"})
    path = os.path.join(d, "batch")
    spark.createDataFrame(pd.DataFrame(rows)).write.json(path)
    static = spark.read.json(path)

    def run(tag, stoplist):
        stream = spark.readStream.schema(static.schema).json(path)
        pairs = streaming_neardup_join_candidates(
            stream, min_est_jaccard=0.5, n_bucket_keys=4,
            bucket_stoplist=stoplist,
        )
        name = run_stream_to_memory(pairs, f"t_stop_{tag}", "append")
        return {(r["id_a"], r["id_b"]) for r in spark.table(name).collect()}

    boiler = {(f"boiler{i:02d}", f"boiler{j:02d}")
              for i in range(10) for j in range(i + 1, 10)}
    genuine = ("echo", "orig")  # canonical (least, greatest)

    no_stop = run("none", None)
    assert genuine in no_stop
    assert boiler <= no_stop  # quadratic hot-bucket traffic

    hot = hot_bucket_keys(static, n_bucket_keys=4, min_members=5)
    hot_rows = hot.collect()
    # exactly the boilerplate's 4 bottom keys run hot (10 members each);
    # the genuine pair's keys appear at most twice
    assert len(hot_rows) == 4 and all(r["n_members"] == 10 for r in hot_rows)

    stopped_df = run("df", hot)
    assert stopped_df & boiler == set()
    assert genuine in stopped_df

    stopped_list = run("list", [r["bucket_key"] for r in hot_rows])
    assert stopped_list == stopped_df

    # the stateful (applyInPandasWithState) operator shares the same
    # shedding, including the stream-static anti-join composed with its
    # different stateful-planning path (DataFrame form on purpose)
    stream = spark.readStream.schema(static.schema).json(path)
    pairs = streaming_neardup_candidates(
        stream, min_est_jaccard=0.5, n_bucket_keys=4, bucket_stoplist=hot
    )
    name = run_stream_to_memory(pairs, "t_stop_stateful", "append")
    stateful = {(r["id_a"], r["id_b"]) for r in spark.table(name).collect()}
    assert stateful & boiler == set()
    assert genuine in stateful

    # a string-keyed stop-list (e.g. the md5 contract twin) must fail
    # loudly instead of casting to NULL and silently shedding nothing
    md5_twin = hot_bucket_keys(
        static, n_bucket_keys=4, min_members=5, hash_fn=F.md5, hash_type="string"
    )
    with pytest.raises(ValueError, match="integral bucket_key"):
        streaming_neardup_join_candidates(
            spark.readStream.schema(static.schema).json(path),
            min_est_jaccard=0.5, n_bucket_keys=4, bucket_stoplist=md5_twin,
        )


def test_stoplist_cache_reuse_and_release(spark):
    """r6 lifecycle hygiene (ADVICE r5): applying the SAME stop-key
    frame twice pins ONE persisted copy (not one per operator call);
    an oversized value list routes through the broadcast anti-join
    instead of a giant literal isin; release_stoplists() unpersists
    the registry. Shedding semantics are unchanged either way."""
    from sems_event_deduplication_spark.streaming import stream_dedup as S

    S.release_stoplists()  # isolate from other tests
    signed = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id")).alias("clip_id"),
        F.pmod(F.col("id"), F.lit(10)).alias("bucket_key"),
    )
    stop_frame = spark.createDataFrame(
        [(0,), (1,)], "bucket_key bigint"
    )
    out1 = S._apply_bucket_stoplist(signed, stop_frame)
    out2 = S._apply_bucket_stoplist(signed, stop_frame)
    assert len(S._STOPLIST_CACHE) == 1  # one pinned copy for both calls
    assert out1.count() == out2.count() == 80

    # oversized value list -> DataFrame anti-join path, same result
    big_list = list(range(2, 10)) + list(range(10_000, 10_000 + S._STOPLIST_ISIN_MAX))
    out3 = S._apply_bucket_stoplist(signed, big_list)
    assert "isin" not in out3._jdf.queryExecution().analyzed().toString()
    assert out3.count() == 20  # keys 2..9 shed, 0/1 kept
    assert len(S._STOPLIST_CACHE) == 2

    # value lists are cached by VALUE, not by the fresh internal frame's
    # id(): re-applying the same values (any order, with repeats) must
    # reuse the one pinned copy instead of persisting another
    out4 = S._apply_bucket_stoplist(signed, list(reversed(big_list)) + [2])
    assert out4.count() == 20
    assert len(S._STOPLIST_CACHE) == 2

    released = S.release_stoplists()
    assert released == 2 and len(S._STOPLIST_CACHE) == 0


def test_hot_bucket_keys_distinct_ids(spark):
    """``id_col`` counts distinct documents: a batch where one doc's
    row is repeated 6x must not stop-list that doc's keys (row-count
    mode would, silently shedding its recall — ADVICE r5)."""
    from sems_event_deduplication_spark.streaming.stream_dedup import (
        hot_bucket_keys,
    )

    rows = [
        {"clip_id": "dup", "transcript": "one repeated ingest row here okay"}
        for _ in range(6)
    ] + [
        {"clip_id": f"b{i}", "transcript": "shared boilerplate footer text"}
        for i in range(6)
    ]
    batch = spark.createDataFrame(pd.DataFrame(rows))
    by_rows = hot_bucket_keys(batch, n_bucket_keys=4, min_members=5)
    by_ids = hot_bucket_keys(batch, n_bucket_keys=4, min_members=5, id_col="clip_id")
    # row mode flags both the repeated row's keys and the boilerplate's
    assert by_rows.count() == 8
    # distinct-id mode flags ONLY the boilerplate keys (6 distinct docs)
    ids_rows = by_ids.collect()
    assert len(ids_rows) == 4 and all(r["n_members"] == 6 for r in ids_rows)


def test_stoplist_value_cache_keyed_by_digest(spark):
    """Oversized value lists are cached under a fixed-size digest key,
    not a tuple of every value: the same 5,000-value list applied twice
    is one entry, a different list is a second, and release_stoplists()
    frees both."""
    from sems_event_deduplication_spark.streaming import stream_dedup as S

    S.release_stoplists()  # isolate from other tests
    signed = spark.range(20).select(
        F.concat(F.lit("c"), F.col("id")).alias("clip_id"),
        F.col("id").alias("bucket_key"),
    )
    vals = list(range(5, 5005))
    assert S._apply_bucket_stoplist(signed, vals).count() == 5
    assert S._apply_bucket_stoplist(signed, vals).count() == 5
    assert len(S._STOPLIST_CACHE) == 1
    (key,) = S._STOPLIST_CACHE
    assert key[:2] == ("vals", 5000) and len(key) == 3 and isinstance(key[2], str)
    assert S._apply_bucket_stoplist(signed, vals[1:] + [9999]).count() == 6
    assert len(S._STOPLIST_CACHE) == 2
    assert S.release_stoplists() == 2
