"""Dump the physical plans of the flagship pipeline's key stages to
BENCH/PLANS.md, with notes on what each plan must (and must not)
contain — scan pruning, broadcast joins, codegen spans, no payload
shuffles. Run after any plan-shape change:

    python scripts/explain_plans.py
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from sems_event_deduplication_spark.conf import DedupConfig
    from sems_event_deduplication_spark.functions import audio as A
    from sems_event_deduplication_spark.functions import minhash as M
    from sems_event_deduplication_spark.functions import text as X
    from sems_event_deduplication_spark.operators import lsh, verify
    from sems_event_deduplication_spark.operators.exact_dedup import (
        digest_rank_edges, exact_dedup_digest_keys, kept_from_edges,
    )
    from sems_event_deduplication_spark.session import get_spark
    from sems_event_deduplication_spark.synth import make_corpus_dist

    spark = get_spark("explain-plans", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig()

    corpus_dir = os.path.join(tempfile.mkdtemp(prefix="plans_"), "audio_clips")
    make_corpus_dist(spark, n_base=500, seed=42).write.parquet(corpus_dir)
    clips = spark.read.parquet(corpus_dir)

    normalized = clips.select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
        X.normalize_text(F.col("transcript")).alias("transcript_norm"),
    )
    # exact dedup as the pipeline runs it: digests of the narrow
    # projection -> keep-last edges, materialized -> keepers
    digest_keys, digest_exprs = exact_dedup_digest_keys(
        "transcript_norm", "bytes", cfg.exact_digest_algo
    )
    exact_edges = digest_rank_edges(
        normalized.select("clip_id", *digest_exprs), digest_keys
    ).localCheckpoint()
    exact = kept_from_edges(
        normalized, exact_edges, "clip_id",
        cfg.exact_dedup_strategy, cfg.exact_dedup_max_broadcast_ids,
    )
    mh = M.make_minhash_udf(cfg.num_perm, cfg.seed)
    ash = A.make_audio_simhash_udf(
        cfg.fft_frame, cfg.fft_hop, cfg.n_mel_bands, cfg.simhash_bits, cfg.seed
    )
    sigs = (
        exact.withColumn("shingles", X.char_shingles(F.col("transcript_norm"), cfg.shingle_k))
        .withColumn("shingle_hashes", M.shingle_hashes(F.col("shingles")))
        .withColumn("minhash_sig", mh(F.col("shingle_hashes")))
        .withColumn("bands", M.band_hashes(F.col("minhash_sig"), cfg.bands, cfg.rows_per_band))
        .withColumn("audio_simhash", ash(F.col("bytes"), F.col("codec")))
        .select("clip_id", "transcript_norm", "shingles", "minhash_sig", "bands", "audio_simhash")
    )
    banded = lsh.explode_bands(sigs, "clip_id", "bands")
    cands = lsh.candidate_pairs(banded, cfg.max_bucket_size)
    verified = verify.verify_jaccard(
        cands, sigs, cfg.num_perm, cfg.jaccard_threshold, cfg.est_margin
    )

    # --- fused signature scan (signature_scan_mode="fused"): digests +
    # SimHash + landmarks in one payload pass ---------------------------
    asl = A.make_audio_sig_landmark_udf(
        cfg.fft_frame, cfg.fft_hop, cfg.n_mel_bands, cfg.simhash_bits,
        cfg.seed, cfg.fft_hop // 2,
    )
    fused_sigs = (
        normalized.select("*", *digest_exprs)
        .withColumn("shingles", X.char_shingles(F.col("transcript_norm"), cfg.shingle_k))
        .withColumn("shingle_hashes", M.shingle_hashes(F.col("shingles")))
        .withColumn("minhash_sig", mh(F.col("shingle_hashes")))
        .withColumn("__audio", asl(F.col("bytes"), F.col("codec")))
        .select(
            "clip_id", "minhash_sig",
            F.col("__audio.audio_simhash").alias("audio_simhash"),
            F.col("__audio.landmarks").alias("landmarks"),
            *digest_keys,
        )
    )

    # --- bucketed payload re-attach (the `auto` gate above the cap, at
    # a scale where no id set broadcasts: both tables bucketed on the
    # join key => SortMergeJoin with NO Exchange on either side) -------
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="plans_wh_"))
    payload_t = wh.save_bucketed(
        clips.select("clip_id", "bytes"), "plans_payload", "clip_id", n_buckets=8
    )
    dropped_t = wh.save_bucketed(
        exact_edges.select(F.col("id_b").alias("clip_id")),
        "plans_dropped", "clip_id", n_buckets=8,
    )
    # at real scale neither side broadcasts; disable broadcast so the
    # captured plan is the sort-merge shape the layout exists for
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    bucketed_plan = plan_of(payload_t.join(dropped_t, "clip_id", "left_anti"))
    for k, v in saved.items():
        spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    # --- ANN probe over the partition-bucketed index layout -----------
    import numpy as np

    from sems_event_deduplication_spark.operators.similarity import (
        ann_topk_indexed, make_planes, write_ann_index,
    )

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.standard_normal(16)]) for i in range(512)],
        "vec_id long, embedding array<double>",
    )
    planes = make_planes(16, 16, seed=1)
    ann_path = os.path.join(tempfile.mkdtemp(prefix="plans_ann_"), "index")
    write_ann_index(emb, ann_path, planes, p_bits=6)
    ann_probe = ann_topk_indexed(
        spark, ann_path, [float(x) for x in rng.standard_normal(16)],
        planes, k=5, hamming_radius=2, p_bits=6,
    )

    # --- banded interval merge (J2 scale form): equi-join on the date
    # bucket, exact overlap test after — no BroadcastNestedLoopJoin for
    # narrow spans (the wide-span fallback is the only permitted BNLJ
    # and its build side is provably tiny) ------------------------------

    from sems_event_deduplication_spark.operators.temporal import (
        interval_merge_edges,
    )

    span_rows = spark.range(5000).select(
        F.concat(F.lit("cl"), F.col("id")).alias("component"),
        F.date_add(
            F.to_date(F.lit("2022-01-01")), (F.col("id") % 900).cast("int")
        ).alias("event_date"),
    )
    interval_plan = plan_of(
        interval_merge_edges(span_rows, max_gap_days=7, strategy="banded")
    )

    # --- date-aligned chunked checkpoint: the per-chunk filter must
    # reach the scan as a PartitionFilter (directory pruning) ----------
    part_src = os.path.join(tempfile.mkdtemp(prefix="plans_chunk_"), "src")
    spark.range(2000).select(
        F.col("id").cast("string").alias("clip_id"),
        (F.col("id") % 16).cast("int").alias("ingest_day"),
    ).write.partitionBy("ingest_day").parquet(part_src)
    part_back = spark.read.parquet(part_src)
    chunk_plan = plan_of(
        part_back.filter(F.pmod(F.col("ingest_day"), F.lit(4)) == 0)
    )

    # --- AQE skew-join evidence on the verify join (EXECUTED, not just
    # explained: skew splitting is a runtime re-plan). One star-center
    # id ("hot") rides every candidate pair — the exact residual shape
    # the star-edge cap leaves behind — with skew thresholds scaled to
    # the fixture so the optimizer faces the same relative imbalance a
    # 100 TB hot key presents. ------------------------------------------
    import time as _time

    n_hot = 120_000
    sig_expr = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.xxhash64(F.col("clip_id"), i),
    )
    skew_sigs = (
        spark.range(n_hot + 1)
        .select(
            F.when(F.col("id") == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("d"), F.col("id"))).alias("clip_id")
        )
        .withColumn("minhash_sig", sig_expr)
        .withColumn("shingle_hashes", sig_expr)
    )
    # 90% of pairs share the hot star-center. The key must be
    # DATA-DEPENDENT: a literal 'hot' constant-folds and Catalyst
    # rewrites the join so no skewed exchange ever exists.
    skew_pairs = spark.range(1, n_hot + 1).select(
        F.when(F.col("id") % 10 != 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("d"), F.col("id") + 1)).alias("id_a"),
        F.concat(F.lit("d"), F.col("id")).alias("id_b"),
    ).filter(F.col("id_a") != F.col("id_b"))
    skew_conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # thresholds scaled to the fixture so the optimizer faces the
        # same RELATIVE imbalance a 100 TB hot key presents
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved_skew = {k: spark.conf.get(k, None) for k in skew_conf}
    skew_text = ""
    try:
        for k, v in skew_conf.items():
            spark.conf.set(k, v)
        timings = {}
        for enabled in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
            skew_df = verify.verify_jaccard(
                skew_pairs, skew_sigs, 64, 0.0, 0.0,
                shingles_col="shingle_hashes",
            )
            t0 = _time.monotonic()
            # collect() on THIS frame: an extra .count() would finalize
            # a different query execution and leave this plan initial
            n = len(skew_df.collect())
            timings[enabled] = round(_time.monotonic() - t0, 2)
            if enabled == "true":
                final = skew_df._jdf.queryExecution().executedPlan().toString()
                skew_marker = "skew=true" in final
                smj_line = next(
                    (ln.strip() for ln in final.splitlines() if "skew=true" in ln),
                    "",
                )
                aqe_read = next(
                    (ln.strip() for ln in final.splitlines()
                     if "AQEShuffleRead" in ln and "skewed" in ln),
                    "",
                )
        skew_text = (
            f"verify join over {n_hot} candidate pairs, ~90% sharing one hot "
            f"star-center id, SMJ forced (no broadcast), skew thresholds "
            f"64k/32k:\n\n"
            f"- AQE skew split applied: **{skew_marker}** — final plan: "
            f"`{smj_line[:140]}` with `{aqe_read[:80]}`\n"
            f"- wall: skewJoin off {timings['false']}s vs on {timings['true']}s "
            f"(rows={n}; at fixture scale the win is structural — the hot "
            f"partition is split into advisory-size chunks instead of one "
            f"straggler task — and grows with the key's byte volume)\n"
        )
        assert skew_marker, "AQE skew split did not trigger — fixture regressed"
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        for k, v in saved_skew.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    # ---- streaming near-dup join (r5 scale path): capture the EXECUTED
    # micro-batch plan, which shows the StreamingSymmetricHashJoin and
    # the ReusedExchange proving the sketch prep runs once for both
    # join sides
    from sems_event_deduplication_spark.streaming.stream_dedup import (
        streaming_neardup_join_candidates,
    )

    stream_src = os.path.join(tempfile.mkdtemp(prefix="plans_stream_"), "docs")
    spark.range(0, 200, 1, 2).select(
        F.concat(F.lit("d"), F.col("id")).alias("clip_id"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("int"))).alias("ts"),
        F.md5(F.col("id").cast("string")).alias("transcript"),
    ).write.mode("overwrite").json(stream_src)
    st_static = spark.read.json(stream_src)
    st = spark.readStream.schema(st_static.schema).json(stream_src)
    sq = (
        streaming_neardup_join_candidates(st, min_est_jaccard=0.5)
        .writeStream.outputMode("append").format("memory")
        .queryName("plans_stream_join").start()
    )
    try:
        sq.processAllAvailable()
        buf = io.StringIO()
        with redirect_stdout(buf):
            sq.explain()
        stream_plan = buf.getvalue()
    finally:
        sq.stop()
    assert "StreamingSymmetricHashJoin" in stream_plan
    assert "ReusedExchange" in stream_plan, "prep no longer shared across sides"

    sections = [
        ("signatures (scan -> exact dedup -> Arrow UDFs)", sigs, [
            "the payload-side scan must feed a **BroadcastHashJoin LeftAnti** "
            "(BuildRight, broadcast = the small dropped-id set) — no Exchange "
            "above the payload scan: `bytes` never shuffles",
            "the digest side is a narrow projection (ReadSchema has no `bytes` "
            "on the window branch beyond the digest input)",
            "both pandas UDFs appear as a fused ArrowEvalPython (one Python round-trip)",
        ]),
        ("LSH candidates (explode -> bucket window -> self-join)", cands, [
            "posexplode then a single Exchange on (band_id, band_hash) reused by "
            "the count window and both sides of the self-join (co-partitioned)",
            "partial aggregation (HashAggregate before Exchange) collapses "
            "duplicate pairs map-side",
        ]),
        ("verify (signature-estimate prefilter -> exact Jaccard)", verified, [
            "signature table is projected to (clip_id, sig, shingles) before the "
            "pair join — column pruning visible in ReadSchema",
            "Jaccard math is native exprs inside WholeStageCodegen, no Python",
        ]),
        ("fused signature scan (signature_scan_mode='fused': one payload pass)", fused_sigs, [
            "ONE FileScan of the payload table feeds everything: the xxh128 "
            "digest words are native exprs in the same WholeStageCodegen, and the MinHash + "
            "fused SimHash/landmark UDFs appear as a single ArrowEvalPython — "
            "the corpus payload is read (and decoded) exactly once",
            "no Exchange anywhere in this plan: exact dedup afterwards ranks "
            "only the narrow (clip_id, digest) projection of the checkpointed "
            "output",
        ]),
        ("bucketed payload re-attach (exact-dedup `auto` above the cap, at scale)", bucketed_plan, [
            "both sides are tables bucketed by clip_id (`WarehouseIO.save_bucketed`): "
            "the anti-join plans as SortMergeJoin with **zero Exchange operators** — "
            "neither the payload nor the dropped-id set shuffles "
            "(SelectedBucketsCount visible on both scans)",
            "this is the 100 TB branch when neither id set fits a broadcast",
        ]),
        ("ANN probe over the partition-bucketed index (write_ann_index layout)", ann_probe, [
            "the scan must show **PartitionFilters** with `bucket IN (...)` — the "
            "radius-enumerated bucket set prunes parquet directories, the probe "
            "never opens non-candidate partitions",
            "the stored `sig` column is re-used by the Hamming refilter "
            "(no signature recompute at query time; the signature itself is "
            "written by a vectorized pandas UDF — one matmul per Arrow batch, "
            "O(1) plan nodes at any embedding dim); cosine re-rank is native exprs",
        ]),
        ("banded interval merge (J2 scale form, interval_merge_edges strategy='banded')", interval_plan, [
            "narrow spans explode to date buckets and pair through an "
            "**equi-join on the bucket id** (SortMergeJoin/shuffled hash) — the "
            "O(C^2) BroadcastNestedLoopJoin is gone from the candidate path",
            "at most ONE BroadcastNestedLoopJoin may appear: the wide-span "
            "fallback, whose build side is the (rare) spans covering more than "
            "max_span_bands buckets",
        ]),
        ("date-aligned chunked checkpoint (S8): per-chunk scan pruning", chunk_plan, [
            "with the chunk key aligned to the input's partition column "
            "(ingest_day), each chunk pass's filter lands in "
            "**PartitionFilters** — the scan opens only that chunk's "
            "directories instead of re-reading the corpus per chunk",
        ]),
        ("streaming near-dup join (r5 scale path, EXECUTED micro-batch plan)", stream_plan, [
            "**StreamingSymmetricHashJoin** on bucket_key with the event-time "
            "range predicates in the condition — per-key state lives in the "
            "JVM state store (session conf: RocksDB + stateFormatVersion 3 + "
            "changelog checkpointing), zero Python operators anywhere in the "
            "plan",
            "the right side is a **ReusedExchange** of the left's exchange: "
            "the sketch prep (normalize -> shingle-hash -> bottom-k -> "
            "explode) executes ONCE per micro-batch for both join sides",
            "the KMV estimate is native array expressions inside the "
            "join/projection — candidate tier-1 verify without a UDF",
        ]),
        ("AQE skew split on the verify join (EXECUTED run)", skew_text, [
            "the LSH star-edge cap bounds bucket-level skew and reports what it "
            "dropped (n_pairs_not_enumerated); the residual hot-key heat lands "
            "on the verify join, where AQE splits the oversized partition — "
            "SortMergeJoin(skew=true) below is the runtime proof",
        ]),
    ]

    out_path = os.path.join(REPO, "BENCH", "PLANS.md")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        f.write(
            "# Physical plans of the flagship stages\n\n"
            "Captured with `.explain(\"formatted\")` (initial AQE plan; AQE "
            "re-optimizes at runtime). Regenerate with "
            "`python scripts/explain_plans.py`.\n"
        )
        for title, df_or_plan, notes in sections:
            f.write(f"\n## {title}\n\n")
            for n in notes:
                f.write(f"- {n}\n")
            f.write("\n```\n")
            f.write(
                df_or_plan if isinstance(df_or_plan, str) else plan_of(df_or_plan)
            )
            f.write("```\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
