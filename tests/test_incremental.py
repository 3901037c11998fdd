"""Incremental batch-vs-index dedup (operators/incremental.py)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sems_event_deduplication_spark.conf import DedupConfig
from sems_event_deduplication_spark.operators.incremental import (
    batch_vs_index_candidates,
    incremental_dedup,
    sign_batch,
)

BASE = [
    "the quick brown fox jumps over the lazy dog near the riverbank today",
    "heavy rain flooded the central station during the evening commute hours",
    "the council approved a new budget for road maintenance next year",
    "a rare comet will be visible from the northern hemisphere this weekend",
    "local bakery wins the national award for its sourdough bread recipe",
]


@pytest.fixture(scope="module")
def cfg():
    return DedupConfig(jaccard_threshold=0.6)


@pytest.fixture(scope="module")
def index_sigs(spark, cfg):
    idx = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": [f"idx{i}" for i in range(len(BASE))], "transcript": BASE}
        )
    )
    return sign_batch(idx, cfg).cache()


def test_incremental_dedup_classifies_batch(spark, cfg, index_sigs):
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "clip_id": ["b_exact", "b_near", "b_near2", "b_new", "b_new2"],
                "transcript": [
                    BASE[0],  # exact copy (normalizes identical)
                    BASE[1] + " again",  # near dup: small suffix edit
                    BASE[2].replace("next year", "in the coming year"),
                    "completely unrelated fresh content about quantum chess",
                    "another novel clip describing deep sea mining robots",
                ],
            }
        )
    )
    out = incremental_dedup(batch, index_sigs, cfg)
    exact = {(r["id_new"], r["id_indexed"]) for r in out["exact_hits"].collect()}
    near = {(r["id_new"], r["id_indexed"]) for r in out["neardup_hits"].collect()}
    novel = {r["clip_id"] for r in out["novel"].collect()}

    assert exact == {("b_exact", "idx0")}
    assert ("b_near", "idx1") in near and ("b_near2", "idx2") in near
    assert not any(n[0] in ("b_new", "b_new2") for n in near)
    assert novel == {"b_new", "b_new2"}


def test_index_bucket_cap_keeps_representative(spark, cfg):
    """An oversized index bucket contributes only its min-id member —
    the newcomer is still flagged, with O(1) pairs per band."""
    from pyspark.sql import functions as F

    rows = [("n1", 0, 7)]
    batch_banded = spark.createDataFrame(
        pd.DataFrame(rows, columns=["clip_id", "band_id", "band_hash"])
    )
    idx_rows = [(f"i{k:02d}", 0, 7) for k in range(10)]
    index_banded = spark.createDataFrame(
        pd.DataFrame(idx_rows, columns=["clip_id", "band_id", "band_hash"])
    )
    got = batch_vs_index_candidates(
        batch_banded, index_banded, max_bucket_size=4
    ).collect()
    assert [(r["id_new"], r["id_indexed"]) for r in got] == [("n1", "i00")]


def test_exact_tier_shares_pipeline_digest_keys(spark, cfg):
    """The exact tier must key on exact_dedup_digest_keys (the
    pipeline's definition), and reuse the index's persisted key
    columns instead of re-deriving its own digest."""
    from sems_event_deduplication_spark.operators.exact_dedup import (
        exact_dedup_digest_keys,
    )

    keys, _ = exact_dedup_digest_keys("transcript_norm", None, cfg.exact_digest_algo)
    idx = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["i0"], "transcript": [BASE[0]]})
    )
    signed = sign_batch(idx, cfg)
    assert set(keys) <= set(signed.columns), (keys, signed.columns)


def test_pipeline_and_sign_batch_sign_alike(spark, corpus, cfg, tmp_path):
    """The ingest path signs a clip exactly as the pipeline does: the
    committed signatures table of a fused text-only run equals
    ``sign_batch`` over the same clips in every signature column and
    in the text digest keys, so a batch can be matched against an
    index the pipeline built."""
    from sems_event_deduplication_spark.operators.exact_dedup import (
        exact_dedup_digest_keys,
    )
    from sems_event_deduplication_spark.plans.pipeline import DedupPipeline
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    wh = WarehouseIO(spark, str(tmp_path / "wh"))
    DedupPipeline(spark, cfg, wh).run(corpus, with_audio=False)
    keys, _ = exact_dedup_digest_keys("transcript_norm", None, cfg.exact_digest_algo)
    cols = ["clip_id", "transcript_norm", "shingle_hashes", "minhash_sig", "bands", *keys]

    def rows(df):
        return {r["clip_id"]: tuple(r) for r in df.select(*cols).collect()}

    piped = rows(wh.load_clean("signatures"))
    assert len(piped) == corpus.count()
    assert piped == rows(sign_batch(corpus, cfg))


def test_payload_keys_same_transcript_different_audio(spark):
    """Flagship semantics (payload_col given): a batch clip with an
    identical transcript but different audio is NOT an exact hit — it
    lands in the near tier via text Jaccard 1.0 (clustered with the
    indexed clip, not silently declared content-identical). With
    identical payload it IS exact."""
    cfg = DedupConfig(jaccard_threshold=0.6)
    idx = spark.createDataFrame(
        pd.DataFrame({
            "clip_id": ["i0", "i1"],
            "transcript": [BASE[0], BASE[1]],
            "bytes": [b"\x01\x02\x03", b"\x04\x05\x06"],
        })
    )
    index_sigs = sign_batch(idx, cfg, payload_col="bytes")
    batch = spark.createDataFrame(
        pd.DataFrame({
            "clip_id": ["b_sametext_diffaudio", "b_sametext_sameaudio"],
            "transcript": [BASE[0], BASE[1]],
            "bytes": [b"\x99\x98\x97", b"\x04\x05\x06"],
        })
    )
    out = incremental_dedup(batch, index_sigs, cfg, payload_col="bytes")
    exact = {(r["id_new"], r["id_indexed"]) for r in out["exact_hits"].collect()}
    near = {(r["id_new"], r["id_indexed"]) for r in out["neardup_hits"].collect()}
    novel = {r["clip_id"] for r in out["novel"].collect()}

    assert exact == {("b_sametext_sameaudio", "i1")}
    assert ("b_sametext_diffaudio", "i0") in near
    assert novel == set()

    # an index signed WITHOUT payload keys must refuse payload-keyed
    # dedup instead of silently weakening the exact definition
    text_only_index = sign_batch(idx, cfg)
    with pytest.raises(ValueError, match="payload digest"):
        incremental_dedup(batch, text_only_index, cfg, payload_col="bytes")


def test_append_to_index_closes_ingest_loop(spark, cfg):
    """Two consecutive ingest days: day 2's dups of day 1's NOVEL rows
    must be caught — i.e. append_to_index actually grows the index
    (through r4 nothing performed the append, so this was impossible)."""
    import tempfile

    from sems_event_deduplication_spark.operators.incremental import (
        append_to_index, load_index,
    )
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_ingest_"))
    idx = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": [f"idx{i}" for i in range(len(BASE))], "transcript": BASE}
        )
    )
    wh.save(sign_batch(idx, cfg), "signatures")
    index_sigs = load_index(wh)

    day1 = spark.createDataFrame(
        pd.DataFrame({
            "clip_id": ["d1_dup", "d1_new"],
            "transcript": [
                BASE[0],
                "fresh story about a solar farm powering the island grid",
            ],
        })
    )
    out1 = incremental_dedup(day1, index_sigs, cfg, persist=False)
    assert {r["clip_id"] for r in out1["novel"].collect()} == {"d1_new"}
    index_sigs = append_to_index(out1["novel"], wh, batch_id="day1")
    assert index_sigs.count() == len(BASE) + 1

    day2 = spark.createDataFrame(
        pd.DataFrame({
            "clip_id": ["d2_dup_of_d1_novel", "d2_near_of_d1_novel", "d2_new"],
            "transcript": [
                "fresh story about a solar farm powering the island grid",
                "fresh story about a solar farm powering the island grid today",
                "entirely new coverage of the marathon route announcement",
            ],
        })
    )
    out2 = incremental_dedup(day2, index_sigs, cfg, persist=False)
    exact = {(r["id_new"], r["id_indexed"]) for r in out2["exact_hits"].collect()}
    near = {(r["id_new"], r["id_indexed"]) for r in out2["neardup_hits"].collect()}
    assert ("d2_dup_of_d1_novel", "d1_new") in exact
    assert ("d2_near_of_d1_novel", "d1_new") in near
    assert {r["clip_id"] for r in out2["novel"].collect()} == {"d2_new"}


def test_append_to_index_idempotent_chunked_and_partial_invisible(spark, cfg):
    """Retry semantics: (a) replaying a committed batch_id is a no-op,
    (b) the chunked write resumes at the first uncommitted chunk and
    the increment only becomes visible once ALL chunks committed,
    (c) an increment directory without its batch marker (a crashed
    write) is invisible to load_index."""
    import os
    import tempfile

    from sems_event_deduplication_spark.operators.incremental import (
        append_to_index, load_index,
    )
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_idem_"))
    idx = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": [f"idx{i}" for i in range(len(BASE))], "transcript": BASE}
        )
    )
    wh.save(sign_batch(idx, cfg), "signatures")

    novel = sign_batch(
        spark.createDataFrame(
            pd.DataFrame({
                "clip_id": [f"n{i}" for i in range(8)],
                "transcript": [
                    f"novel clip number {i} about subject {i * 7}" for i in range(8)
                ],
            })
        ),
        cfg,
    )
    grown = append_to_index(novel, wh, batch_id="b1", n_chunks=4)
    assert grown.count() == len(BASE) + 8
    # replay of the same committed batch_id: no duplicate rows
    again = append_to_index(novel, wh, batch_id="b1", n_chunks=4)
    assert again.count() == len(BASE) + 8

    # crashed chunked write: marker absent -> invisible; retry resumes
    inc = os.path.join(wh.base_dir, "signatures__inc", "batch=b2")
    wh.checkpoint_chunked(novel, "signatures__inc/batch=b2", "clip_id", 4,
                          resume=True)
    # simulate "crashed before the batch marker landed" + one chunk lost
    os.remove(os.path.join(inc, "chunk=2", "_SUCCESS"))
    assert load_index(wh).count() == len(BASE) + 8  # b2 invisible
    grown2 = append_to_index(novel, wh, batch_id="b2", n_chunks=4)
    assert grown2.count() == len(BASE) + 16
    assert os.path.exists(os.path.join(inc, "chunk=2", "_SUCCESS"))


def test_partial_digest_key_index_regression(spark, cfg):
    """An index persisting only a SUBSET of the text digest key columns
    must get exactly the missing ones derived — not a duplicate-named
    column and an ambiguous-column failure at the exact-hit join."""
    from sems_event_deduplication_spark.operators.exact_dedup import (
        exact_dedup_digest_keys,
    )

    keys, _ = exact_dedup_digest_keys("transcript_norm", None, cfg.exact_digest_algo)
    assert len(keys) >= 2  # xxh128 -> two words; the partial shape exists
    idx = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": [f"idx{i}" for i in range(len(BASE))], "transcript": BASE}
        )
    )
    partial_index = sign_batch(idx, cfg).drop(keys[1])
    batch = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["b_exact"], "transcript": [BASE[0]]})
    )
    out = incremental_dedup(batch, partial_index, cfg, persist=False)
    exact = {(r["id_new"], r["id_indexed"]) for r in out["exact_hits"].collect()}
    assert exact == {("b_exact", "idx0")}


def test_incremental_persist_shape_regression(spark, cfg):
    """The 20x guard (memory-noted class): incremental_dedup's three
    returned frames share the expensive lineage (sign UDFs, digest
    join, band join + verify) and MUST reference the persisted
    intermediates — novel's plan reads InMemoryRelations for signed /
    exact_hits / neardup_hits instead of re-deriving the whole tree
    per consumer action (measured 392 s vs 19 s on a 42k batch). Red
    on the pre-fix shape: persist=False shows zero InMemoryRelation.
    Wall time only proved the fix once; this pins the plan shape."""
    from sems_event_deduplication_spark.operators.strategies import (
        release_gated_broadcasts,
    )

    # content UNIQUE to this test: the cache manager substitutes cached
    # plans into any canonically-identical subtree, so reusing the
    # module fixture's rows would make even the persist=False plan show
    # InMemoryRelations that belong to other tests' caches
    texts = [f"persist shape probe {t} row" for t in BASE]
    idx = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": [f"pidx{i}" for i in range(len(texts))], "transcript": texts}
        )
    )
    index_sigs = sign_batch(idx, cfg)
    batch = spark.createDataFrame(
        pd.DataFrame({
            "clip_id": ["pb0", "pb1"],
            "transcript": [texts[0], "novel content about glacier monitoring"],
        })
    )

    def n_cached(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count(
            "InMemoryRelation"
        )

    try:
        # pre-fix shape FIRST: once persist=True has run, the cache
        # manager substitutes cached plans into any identical logical
        # subtree, so the order matters
        unpersisted = incremental_dedup(batch, index_sigs, cfg, persist=False)
        assert n_cached(unpersisted["novel"]) == 0  # the pre-fix shape

        out = incremental_dedup(batch, index_sigs, cfg, persist=True)
        # novel anti-joins signed against exact+near: all three cached
        assert n_cached(out["novel"]) >= 3, out["novel"]._jdf.queryExecution()
        assert n_cached(out["exact_hits"]) >= 1
        assert n_cached(out["neardup_hits"]) >= 1
    finally:
        release_gated_broadcasts()


def _novel(spark, cfg, prefix: str, n: int):
    return sign_batch(
        spark.createDataFrame(
            pd.DataFrame({
                "clip_id": [f"{prefix}{i}" for i in range(n)],
                "transcript": [
                    f"{prefix} report {i} on topic {i * 13} for the day"
                    for i in range(n)
                ],
            })
        ),
        cfg,
    )


def _index_wh(spark, cfg, tag: str, extra_col: bool = False, base_dir=None):
    import tempfile

    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    wh = WarehouseIO(spark, base_dir or tempfile.mkdtemp(prefix=f"wh_{tag}_"))
    base = _novel(spark, cfg, "base", len(BASE))
    if extra_col:
        base = base.withColumn("extra", F.lit(7))
    wh.save(base, "signatures")
    return wh


def test_load_index_equals_brute_force_union(spark, cfg):
    """The one-scan index equals, row for row, the base unioned with a
    separate read of every committed increment: plain and chunked
    increments are all there, and uncommitted batch dirs (a chunked
    write without its batch marker, a plain write without _SUCCESS)
    contribute nothing."""
    import os

    from sems_event_deduplication_spark.operators.incremental import (
        append_to_index, load_index,
    )

    wh = _index_wh(spark, cfg, "eq")
    append_to_index(_novel(spark, cfg, "p1_", 6), wh, "p1")
    append_to_index(_novel(spark, cfg, "ch_", 9), wh, "ch", n_chunks=4)
    append_to_index(_novel(spark, cfg, "p2_", 3), wh, "p2")
    wh.checkpoint_chunked(_novel(spark, cfg, "pc_", 5),
                          "signatures__inc/batch=partial_chunked", "clip_id", 4)
    wh.save(_novel(spark, cfg, "pp_", 4), "signatures__inc/batch=partial_plain")
    os.remove(os.path.join(
        wh.base_dir, "signatures__inc", "batch=partial_plain", "_SUCCESS"
    ))

    base = wh.load_clean("signatures")
    expect = base
    inc_root = os.path.join(wh.base_dir, "signatures__inc")
    for b in sorted(os.listdir(inc_root)):
        d = os.path.join(inc_root, b)
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            continue
        chunks = [os.path.join(d, c) for c in os.listdir(d)
                  if c.startswith("chunk=")]
        for path in chunks or [d]:
            expect = expect.unionByName(
                spark.read.parquet(path).select(*base.columns)
            )

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    got = load_index(wh)
    assert got.columns == base.columns
    assert rows(got) == rows(expect)
    assert got.count() == len(BASE) + 6 + 9 + 3


def test_load_index_one_scan_flat_jobs(spark, cfg):
    """Index read cost does not grow with the increment count: with 1, 4
    and 12 committed increments the optimized plan has at most two file
    scans (base + increments), and building the frame launches the same
    number of Spark jobs."""
    from sems_event_deduplication_spark.operators.incremental import (
        append_to_index, load_index,
    )

    wh = _index_wh(spark, cfg, "bound")
    sc = spark.sparkContext
    jobs = {}
    committed = 0
    for n in (1, 4, 12):
        while committed < n:
            append_to_index(_novel(spark, cfg, f"i{committed}_", 2), wh,
                            f"i{committed:02d}")
            committed += 1
        group = f"load_index_bound_{n}"
        sc.setJobGroup(group, group)
        try:
            idx = load_index(wh)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        plan = idx._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Relation [") <= 2, plan
        assert idx.count() == len(BASE) + 2 * n
    assert jobs[1] == jobs[4] == jobs[12], jobs


def test_append_to_index_refuses_schema_mismatch(spark, cfg):
    """An increment that would not read back as the base's columns is
    refused before anything is written: a missing base column (it would
    read as nulls) and a retyped one both raise, naming the column, and
    leave no batch dir behind. Extra increment columns are allowed and
    are not read."""
    import os

    from sems_event_deduplication_spark.operators.incremental import (
        append_to_index, load_index,
    )

    wh = _index_wh(spark, cfg, "schema", extra_col=True)
    novel = _novel(spark, cfg, "n", 3)
    inc_root = os.path.join(wh.base_dir, "signatures__inc")

    with pytest.raises(ValueError, match="extra"):
        append_to_index(novel, wh, "missing")
    with pytest.raises(ValueError, match="extra"):
        append_to_index(novel.withColumn("extra", F.lit("7")), wh, "retyped")
    assert not os.path.exists(inc_root)

    grown = append_to_index(
        novel.withColumn("extra", F.lit(8)).withColumn("more", F.lit(1.5)),
        wh, "ok",
    )
    assert "more" not in grown.columns
    assert sorted(r["extra"] for r in load_index(wh).collect()) == (
        [7] * len(BASE) + [8] * 3
    )


def test_index_grows_under_scheme_less_base_on_default_fs(
    spark, cfg, viewfs_warehouse
):
    """With a scheme-less base dir under a viewfs default filesystem the
    increment listing looks where the increments were written, so the
    index grows by every committed batch."""
    from sems_event_deduplication_spark.operators.incremental import (
        append_to_index, load_index,
    )

    base, _ = viewfs_warehouse
    wh = _index_wh(spark, cfg, "viewfs", base_dir=base)
    append_to_index(_novel(spark, cfg, "v_", 5), wh, "v")
    assert load_index(wh).count() == len(BASE) + 5


def test_load_index_base_dir_with_glob_characters(spark, cfg, tmp_path):
    """A base dir containing glob metacharacters is a literal path, both
    for the committed-increment listing and for the reads: every plain
    and chunked increment is in the index."""
    from sems_event_deduplication_spark.operators.incremental import (
        append_to_index, load_index,
    )

    wh = _index_wh(spark, cfg, "glob", base_dir=str(tmp_path / "wh[1]{a"))
    append_to_index(_novel(spark, cfg, "g1_", 3), wh, "g1")
    append_to_index(_novel(spark, cfg, "g2_", 4), wh, "g2", n_chunks=2)
    assert load_index(wh).count() == len(BASE) + 3 + 4


def test_ingest_loop_codegen_cache_holds_a_batch(spark, cfg, codegen_compiled):
    """An ingest loop repeats the same plans batch after batch, so once
    the codegen cache holds them a batch compiles (almost) no classes:
    after two warm batches of load_index -> incremental_dedup -> save
    the hits -> append_to_index, a third compiles at most 10 (0 here).
    With Spark's default cache of 100 classes the third batch
    recompiled 32."""
    import hashlib

    from sems_event_deduplication_spark.operators.incremental import (
        append_to_index, load_index,
    )
    from sems_event_deduplication_spark.operators.strategies import (
        release_gated_broadcasts,
    )
    wh = _index_wh(spark, cfg, "codegen")
    base = [r["transcript_norm"] for r in wh.load("signatures").collect()]
    compiled = []
    for b in range(3):
        batch = spark.createDataFrame(pd.DataFrame({
            "clip_id": [f"c{b}_exact", f"c{b}_near"]
            + [f"c{b}_new{i}" for i in range(4)],
            "transcript": [base[b], base[b + 1] + " again"] + [
                "novel clip " + hashlib.sha256(f"{b}/{i}".encode()).hexdigest()
                for i in range(4)
            ],
        }))
        before = codegen_compiled()
        out = incremental_dedup(batch, load_index(wh), cfg)
        wh.save(
            out["exact_hits"].withColumn("jaccard", F.lit(1.0)).unionByName(
                out["neardup_hits"].select("id_new", "id_indexed", "jaccard")
            ),
            f"hits_{b}",
        )
        append_to_index(out["novel"], wh, f"c{b}")
        compiled.append(codegen_compiled() - before)
        release_gated_broadcasts()
        hits = {r["id_new"] for r in wh.load(f"hits_{b}").collect()}
        assert hits == {f"c{b}_exact", f"c{b}_near"}
    assert compiled[2] <= 10, compiled
