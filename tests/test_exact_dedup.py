"""keep-last exact dedup parity vs pandas (reference create_silver_label.py:67).

Every case runs the three steps the pipeline composes: digest keys ->
``digest_rank_edges`` -> ``kept_from_edges`` against a materialized
edge table.
"""

from __future__ import annotations

import contextlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sems_event_deduplication_spark.operators.exact_dedup import (
    digest_rank_edges,
    exact_dedup_digest_keys,
    kept_from_edges,
)


def exact_dedup(df, max_broadcast_ids=20_000_000, algo="xxh128"):
    """(keepers, edges) of ``df`` (clip_id, transcript_norm, bytes), the
    way the pipeline derives them; the edge table is materialized
    because ``auto`` counts it."""
    keys, digests = exact_dedup_digest_keys("transcript_norm", "bytes", algo)
    edges = digest_rank_edges(df.select("clip_id", *digests), keys).localCheckpoint()
    return kept_from_edges(df, edges, "clip_id", "auto", max_broadcast_ids), edges


def test_keep_last_matches_pandas(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "b", "a", "c", "b", "a"],
            "ord": [1, 2, 3, 4, 5, 6],
            "v": list("uvwxyz"),
        }
    )
    want = pdf.sort_values("ord").drop_duplicates(subset="k", keep="last")
    df = spark.createDataFrame(pdf)
    edges = digest_rank_edges(df, ["k"], id_col="v", order_col="ord")
    got = kept_from_edges(df, edges.localCheckpoint(), "v").toPandas()
    assert sorted(got["v"]) == sorted(want["v"])


def test_exact_dedup_edges_connect_drops_to_keeper(spark):
    pdf = pd.DataFrame(
        {
            "clip_id": ["c1", "c2", "c3", "c4"],
            "transcript_norm": ["same", "same", "same", "diff"],
            "bytes": [b"x", b"x", b"x", b"y"],
        }
    )
    kept, edges = exact_dedup(spark.createDataFrame(pdf))
    kept_ids = {r["clip_id"] for r in kept.select("clip_id").collect()}
    assert kept_ids == {"c3", "c4"}  # keep-last by clip_id desc
    e = {(r["id_a"], r["id_b"]) for r in edges.collect()}
    assert e == {("c3", "c1"), ("c3", "c2")}


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    """Only an explicit hint broadcasts a join side inside this block."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_exact_dedup_strategies_agree_and_plan_shapes(spark):
    """The ``auto`` gate's two outcomes return identical keepers: under
    the cap the dropped ids are broadcast, and with a zero cap the
    anti-join runs without a broadcast (the bucketed-table path)."""
    pdf = pd.DataFrame(
        {
            "clip_id": [f"c{i:02d}" for i in range(20)],
            "transcript_norm": [f"t{i % 7}" for i in range(20)],
            "bytes": [bytes([i % 7]) for i in range(20)],
        }
    )
    df = spark.createDataFrame(pdf)
    results = {}
    with _no_auto_broadcast(spark):
        for cap in (20_000_000, 0):
            kept, edges = exact_dedup(df, max_broadcast_ids=cap)
            results[cap] = (
                {r["clip_id"] for r in kept.collect()},
                {(r["id_a"], r["id_b"]) for r in edges.collect()},
            )
            plan = kept._jdf.queryExecution().executedPlan().toString()
            assert ("BroadcastHashJoin" in plan) == (cap > 0), plan
    assert results[0] == results[20_000_000]
    assert len(results[0][0]) == 7


def test_kept_from_edges_known_count_runs_no_job(spark, count_jobs):
    """Given the dropped-row count (the pipeline passes its exact_edges
    write's), building the keepers launches no count job; the count
    alone picks the join shape."""
    pdf = pd.DataFrame(
        {
            "clip_id": ["c1", "c2", "c3", "c4"],
            "transcript_norm": ["same", "same", "same", "diff"],
            "bytes": [b"x", b"x", b"x", b"y"],
        }
    )
    df = spark.createDataFrame(pdf)
    keys, digests = exact_dedup_digest_keys("transcript_norm", "bytes")
    edges = digest_rank_edges(df.select("clip_id", *digests), keys).localCheckpoint()
    kept = {}

    def build(cap):
        kept[cap] = kept_from_edges(df, edges, "clip_id", "auto", cap, n_dropped=2)

    with _no_auto_broadcast(spark):
        for cap in (20_000_000, 0):
            assert count_jobs(lambda: build(cap)) == 0
            plan = kept[cap]._jdf.queryExecution().executedPlan().toString()
            assert ("BroadcastHashJoin" in plan) == (cap > 0), plan
    with pytest.raises(ValueError, match="'auto'"):
        kept_from_edges(df, edges, "clip_id", "semi_broadcast")


def test_exact_dedup_anti_broadcast_payload_never_shuffles(spark):
    """The default branch broadcasts the dropped ids: the payload side
    of the anti-join must sit directly on the scan with no Exchange."""
    pdf = pd.DataFrame(
        {
            "clip_id": ["c1", "c2", "c3"],
            "transcript_norm": ["same", "same", "solo"],
            "bytes": [b"x", b"x", b"z"],
        }
    )
    kept, _ = exact_dedup(spark.createDataFrame(pdf))
    kept.collect()  # AQE: the final plan exists only after execution
    plan = kept._jdf.queryExecution().executedPlan().toString()
    anti = plan[plan.index("BroadcastHashJoin") :]
    left_side = anti[: anti.index("BroadcastExchange")]
    assert "Exchange hashpartitioning" not in left_side


def test_exact_dedup_distinguishes_payloads(spark):
    pdf = pd.DataFrame(
        {
            "clip_id": ["c1", "c2"],
            "transcript_norm": ["same", "same"],
            "bytes": [b"x", b"DIFFERENT"],
        }
    )
    kept, edges = exact_dedup(spark.createDataFrame(pdf))
    assert kept.count() == 2 and edges.count() == 0


def test_digest_algos_agree(spark):
    """xxh128 (fast default) and sha256 digests must produce identical
    dedup decisions — same keepers, same edges — on a corpus with
    planted exact text+payload dups and payload-only differences."""
    import pandas as pd

    rows = []
    for i in range(60):
        text = f"event transcript {i % 20}"       # text dups across i
        payload = bytes([i % 10]) * 40            # payload dups across i
        rows.append({"clip_id": f"c{i:03d}", "transcript_norm": text, "bytes": payload})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = {}
    for algo in ("xxh128", "sha256"):
        kept, edges = exact_dedup(df, algo=algo)
        out[algo] = (
            sorted(r["clip_id"] for r in kept.select("clip_id").collect()),
            sorted(map(tuple, edges.collect())),
        )
    assert out["xxh128"] == out["sha256"]
    assert len(out["xxh128"][1]) > 0  # the corpus really had dups


def test_xxh128_second_word_is_salt_prefixed(spark):
    """The composite key is 128-bit only if the two words are
    independent. Spark chains multi-arg xxhash64 (each argument's hash
    seeds the next), so a SUFFIX salt — xxhash64(col, lit) — makes
    word2 a pure function of word1 = xxhash64(col), silently reducing
    the key to 64 bits. Guard the salt-prefix ordering structurally
    and behaviorally."""
    names, digests = exact_dedup_digest_keys("t", "p")
    # structural: the salt literal precedes the content column
    for d in (digests[1], digests[3]):
        s = str(d)
        assert "xxhash64(#2," in s.replace("'", "").replace('"', ""), s
    # behavioral: word2 differs from the degenerate chained suffix form
    row = (
        spark.createDataFrame([("hello", b"pp")], "t string, p binary")
        .select(
            *digests,
            F.xxhash64(F.col("t"), F.lit("#2")).alias("suffix_chain"),
        )
        .collect()[0]
    )
    assert row["__k_text_2"] != row["suffix_chain"]
    assert row["__k_text_1"] != row["__k_text_2"]
