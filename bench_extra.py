"""Round-6 optimization measurement harness (guide §1).

NOT part of the frozen bench contract — ``bench.py`` stays the driver's
timing methodology. This file exists so each timed leg can be isolated,
repeated, and explained without touching the frozen harness:

  python bench_extra.py --contract [name ...]  # per-query repeats + explain
  python bench_extra.py --audio [n]            # audio pipeline, labeled stages
  python bench_extra.py --text [n]             # text e2e repeats
  python bench_extra.py --explain              # write plans/r06/*_{when}.txt

Timing uses the same shapes as bench.py (toPandas for contract queries,
pipeline wall for audio) plus noop-sink isolation for transformations.
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


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return round(time.monotonic() - t0, 3)


def run_audio_decompose() -> dict:
    """Isolate the pieces inside the audio pipeline's verified_pairs
    stage with noop sinks (guide §1.4). Builds the same frames as
    DedupPipeline.run (fused scan mode) from a pre-generated corpus."""
    import tempfile

    from pyspark.sql import functions as F

    import bench as B
    from sems_event_deduplication_spark.conf import DedupConfig
    from sems_event_deduplication_spark.functions import audio as A
    from sems_event_deduplication_spark.operators import lsh, verify
    from sems_event_deduplication_spark.operators.exact_dedup import (
        digest_rank_edges, exact_dedup_digest_keys, kept_from_edges,
    )
    from sems_event_deduplication_spark.plans.pipeline import DedupPipeline
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    spark = _spark()
    sc = spark.sparkContext
    cfg = DedupConfig(signature_scan_mode="fused")
    corpus_dir = os.environ.get("SPARK_GRAFT_CORPUS")
    if not corpus_dir:
        corpus_dir = os.path.join(tempfile.mkdtemp(prefix="bench_corpus_"), "audio_clips")
        B.gen_corpus(spark, corpus_dir, B.AUDIO_N_BASE, 0.25, 0.9)
    clips = spark.read.parquet(corpus_dir)
    # warm Arrow workers like bench does
    ash = A.make_audio_simhash_udf(
        cfg.fft_frame, cfg.fft_hop, cfg.n_mel_bands, cfg.simhash_bits,
        cfg.seed, floor_db=cfg.fp_floor_db,
    )
    clips.limit(256).repartition(64).select(ash(F.col("bytes"), F.col("codec")).alias("s")).collect()

    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_decomp_"))
    pipe = DedupPipeline(spark, cfg, wh)
    out: dict[str, float] = {}

    # ---- replicate run() up to the signatures checkpoint --------------
    from sems_event_deduplication_spark.functions import text as X

    normalized = clips.select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
        X.normalize_text(F.col("transcript")).alias("transcript_norm"),
    )
    keys, digests = exact_dedup_digest_keys("transcript_norm", "bytes", cfg.exact_digest_algo)
    enriched = normalized.select("*", *digests)
    sig_cols = ["clip_id", "transcript_norm", "shingle_hashes", "minhash_sig", "bands",
                "audio_simhash", "audio_bands"]
    # inline add_signature_columns (non-offset branch)
    from sems_event_deduplication_spark.functions import minhash as M

    df = enriched.withColumn(
        "shingles", X.char_shingles(F.col("transcript_norm"), cfg.shingle_k)
    ).withColumn("shingle_hashes", M.shingle_hashes(F.col("shingles")))
    mh = M.make_minhash_udf(cfg.num_perm, cfg.seed)
    df = df.withColumn("minhash_sig", mh(F.col("shingle_hashes"))).withColumn(
        "bands", M.band_hashes(F.col("minhash_sig"), cfg.bands, cfg.rows_per_band)
    ).withColumn(
        "audio_simhash", ash(F.col("bytes"), F.col("codec"))
    ).withColumn(
        "audio_bands", A.simhash_bands(F.col("audio_simhash"), cfg.simhash_bands, cfg.simhash_bits)
    )
    sigs_all_df = df.select(*sig_cols, *keys)

    sc.setJobDescription("signatures: noop (no write)")
    out["signatures_noop"] = _noop(sigs_all_df)
    sc.setJobDescription("signatures: warehouse write")
    t0 = time.monotonic()
    sigs_all = wh.checkpoint(sigs_all_df, "signatures")
    out["signatures_write"] = round(time.monotonic() - t0, 3)

    sc.setJobDescription("exact_edges")
    t0 = time.monotonic()
    exact_edges = wh.checkpoint(
        digest_rank_edges(sigs_all.select("clip_id", *keys), keys), "exact_edges"
    )
    out["exact_edges_write"] = round(time.monotonic() - t0, 3)
    sigs = kept_from_edges(
        sigs_all, exact_edges, "clip_id", cfg.exact_dedup_strategy,
        cfg.exact_dedup_max_broadcast_ids,
    ).drop(*keys)

    sized_text = lsh.size_buckets(lsh.explode_bands(sigs, "clip_id", "bands")).persist()
    sc.setJobDescription("sized_text materialize")
    out["sized_text_materialize"] = _noop(sized_text)
    sized_audio = lsh.size_buckets(lsh.explode_bands(sigs, "clip_id", "audio_bands")).persist()
    sc.setJobDescription("sized_audio materialize")
    out["sized_audio_materialize"] = _noop(sized_audio)

    cand_text = lsh.candidate_pairs(sized_text, cfg.max_bucket_size)
    sc.setJobDescription("cand_text")
    out["cand_text_noop"] = _noop(cand_text)
    pairs_text = verify.verify_jaccard(
        cand_text, sigs, cfg.num_perm, cfg.jaccard_threshold, cfg.est_margin,
        shingles_col="shingle_hashes",
    )
    sc.setJobDescription("verify_text (incl cand_text)")
    out["verify_text_noop"] = _noop(pairs_text)

    contain = verify.containment_pairs(
        sized_text, sigs, cfg.max_bucket_size, n_bands=cfg.containment_bands
    )
    sc.setJobDescription("containment")
    out["containment_noop"] = _noop(contain)

    cand_audio = lsh.candidate_pairs(sized_audio, cfg.max_bucket_size)
    sc.setJobDescription("cand_audio")
    out["cand_audio_noop"] = _noop(cand_audio)
    pairs_audio = verify.verify_hamming(cand_audio, sigs, cfg.hamming_threshold)
    sc.setJobDescription("verify_audio (incl cand_audio)")
    out["verify_audio_noop"] = _noop(pairs_audio)

    verified = (
        pairs_text.withColumn("kind", F.lit("text"))
        .unionByName(
            contain.select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
            .withColumn("kind", F.lit("containment"))
        )
        .unionByName(
            pairs_audio.select(
                "id_a", "id_b", F.lit(None).cast("double").alias("jaccard"),
                F.lit("audio").alias("kind"),
            )
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("jaccard").alias("jaccard"),
             F.sort_array(F.collect_set("kind")).alias("kinds"))
    )
    sc.setJobDescription("verified full (noop)")
    out["verified_full_noop"] = _noop(verified)
    sc.setJobDescription("verified write")
    t0 = time.monotonic()
    wh.checkpoint(verified, "verified_pairs")
    out["verified_write"] = round(time.monotonic() - t0, 3)
    sized_text.unpersist()
    sized_audio.unpersist()
    return out


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
    if "--audio-decompose" in sys.argv:
        print(json.dumps(run_audio_decompose()))
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
