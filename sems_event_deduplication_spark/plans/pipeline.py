"""End-to-end dedup pipeline (SURVEY.md §3.1 new-engine lifecycle).

    read audio_clips
      -> normalize (native exprs)                [lazy]
      -> digests + MinHash + SimHash (+ offset   [stage: signatures]
         landmarks) in one payload pass (Arrow)
      -> exact dedup: keep-last digest edges     [stage: exact_edges]
      -> LSH candidates: one pair set, a flag    [lazy]
         per verify tier (text, containment,
         audio, offset audio)
      -> verify: ONE pass, every tier's rule     [stage: verified_pairs]
         (Jaccard / contains / Hamming) where
         its flag is set, sides attached once
      -> star-cap bucket stats: one ungrouped    [inline, lsh_stats]
         aggregate over the cached band buckets
      -> connected components (star/star)        [stage: components]
      -> clusters + survivors + metrics          [stages: clusters, survivors]

``signature_scan_mode`` only orders the exact_edges and signatures
stages: ``fused`` (above) commits signatures first and ranks their
digest columns; ``dedup_first`` commits ``exact_edges`` first and
fingerprints only the keepers. Both run the same two stage functions
and everything after them is shared. The six committed stages checkpoint
through WarehouseIO (resume = skip committed stages, the reference's
exists-check pattern at ``create_silver_label.py:224``); everything
between them stays lazy and fuses into the next committed stage. The binary
payload is dropped right after signature computation and re-joined only
for the survivor output, so ``bytes`` never rides a shuffle (SURVEY.md
§7 hard part d).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conf import DedupConfig
from ..functions import audio as A
from ..functions import minhash as M
from ..functions import text as X
from ..operators import lsh, verify
from ..operators.components import assign_components, connected_components
from ..operators.exact_dedup import (
    digest_rank_edges, exact_dedup_digest_keys, kept_from_edges,
)
from ..operators.survivors import cluster_summary, select_survivors
from ..sources.warehouse import WarehouseIO


def _estimated_scan_partitions(df: DataFrame, max_partition_bytes: int = 64 << 20) -> int:
    """Cheap estimate of a scan's task count, without compiling plans.

    The old probes were all driver bottlenecks at lake scale:
    ``df.rdd.getNumPartitions()`` compiled the non-AQE plan and forced
    an RDD conversion; an ``os.path.getsize``-per-file Python loop was
    local-FS-only; a ``getContentSummary``-per-directory variant
    counted non-input siblings recursively (an inflated estimate
    silently skips the spread-the-payload repartition this feeds) and
    a listStatus-filter variant still paid py4j round trips per
    directory ENTRY. The load-bearing observation: the ONLY decision
    this estimate feeds is "is the scan spread over at least
    ``defaultParallelism`` tasks", and splittable parquet yields at
    least one task per file — so when the scan has at least that many
    input files the answer is yes with NO I/O at all (one Python
    ``len``, even at millions of lake files). Only a scan with FEWER
    files than cores needs sizes, and then a per-file
    ``getFileStatus`` is exact, immune to sibling inflation, and
    bounded by ``defaultParallelism`` RPCs. Splittable parquet yields
    ``sum(max(1, ceil(size/maxPartitionBytes)))`` tasks (session.py
    pins maxPartitionBytes=64m). Non-file DataFrames (createDataFrame,
    memory streams) report ``defaultParallelism`` — already well
    spread, no repartition wanted; a file that vanishes or cannot be
    stat'ed between planning and estimation falls back to "adequately
    partitioned" rather than triggering the payload shuffle.
    """
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    sc = df.sparkSession.sparkContext
    if not files:
        return sc.defaultParallelism
    if len(files) >= sc.defaultParallelism:
        # >= 1 task per file: already spread; zero RPCs, any file count
        return len(files)
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    n = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        try:
            size = p.getFileSystem(hconf).getFileStatus(p).getLen()
        except Exception:
            # vanished/renamed/unreadable since planning: assume
            # adequately partitioned rather than triggering the
            # payload-shuffling repartition this heuristic exists to
            # avoid
            return sc.defaultParallelism * 4
        n += max(1, -(-size // max_partition_bytes))
    return max(1, n)


def _compiled_classes(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far:
    the sample count of ``CodegenMetrics``' compilation-time histogram,
    one per generated-code cache miss. Read over py4j, no Spark job.
    The counter is JVM-wide, so the delta around a call also counts
    any query running concurrently in the same JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@dataclass
class StageMetric:
    """One timed step of a run. ``rows_out`` of a committed stage is the
    row count of its table, read from an Observation on the write; -1
    means only that the stage was loaded from a committed checkpoint on
    resume (nothing was written, so nothing was counted).
    ``cc_fixpoint`` reports its edge count."""

    stage: str
    rows_out: int
    seconds: float
    write_sec: float = 0.0


@dataclass
class PipelineResult:
    clusters: DataFrame
    survivors: DataFrame
    verified_pairs: DataFrame
    metrics: list[StageMetric] = field(default_factory=list)
    lsh_stats: dict = field(default_factory=dict)
    # true end-to-end driver wall of run(); NOT the sum of stage
    # seconds — the survivors/clusters commits overlap in two threads,
    # so the sum double-counts their shared wall
    wall_sec: float = 0.0
    # which digest algo produced the committed exact_edges table —
    # surfaced so an audit can distinguish xxh128 (trusted-corpus
    # speed) from sha256 (adversarial-content safety) runs after the
    # fact (conf.py exact_digest_algo caveat)
    exact_digest_algo: str = ""
    # classes Spark's code generator compiled during run() (the
    # CodegenMetrics delta, read with no Spark job). 0 on a warm rerun
    # when the codegen cache holds the run's working set; the counter is
    # JVM-wide, so a query running concurrently in the same JVM counts too
    codegen_classes_compiled: int = 0

    def metrics_dict(self) -> dict:
        out = {
            m.stage: {
                "rows": m.rows_out,
                "sec": round(m.seconds, 3),
                "write_sec": round(m.write_sec, 3),
            }
            for m in self.metrics
        }
        if self.lsh_stats:
            out["lsh_buckets"] = self.lsh_stats
        if self.exact_digest_algo:
            out["exact_digest_algo"] = self.exact_digest_algo
        out["codegen"] = {"classes_compiled": self.codegen_classes_compiled}
        return out


class DedupPipeline:
    def __init__(self, spark: SparkSession, cfg: DedupConfig, warehouse: WarehouseIO):
        self.spark = spark
        self.cfg = cfg
        self.wh = warehouse

    def _stage(
        self, df: DataFrame, name: str, resume: bool,
        metrics: list[StageMetric], chunks: int = 0,
    ) -> DataFrame:
        """Commit one stage and record its metric. ``chunks > 0`` commits
        it as that many independent chunk partitions (S8 mid-stage
        commits): a job killed at chunk k resumes at chunk k. The row
        count comes from the write itself, so no extra job runs."""
        t0 = time.monotonic()
        if chunks > 0:
            out = self.wh.checkpoint_chunked(
                df, name, self.cfg.signature_chunk_col,
                n_chunks=chunks, resume=resume,
            )
        else:
            out = self.wh.checkpoint(df, name, resume=resume)
        t1 = time.monotonic()
        n = self.wh.rows_written(name)
        metrics.append(StageMetric(name, n, time.monotonic() - t0, t1 - t0))
        return out

    def run(
        self,
        clips: DataFrame,
        resume: bool = False,
        with_audio: bool = True,
        checkpoint_mode: str = "min",
        payload_in_survivors: bool = True,
    ) -> PipelineResult:
        """One stage sequence for both scan modes:
        ``cfg.signature_scan_mode`` only decides whether the exact_edges
        stage runs before the signatures stage (``dedup_first``) or
        after it (``fused``).

        Verification is one pass: the candidate pairs of every tier
        are grouped once with a flag per tier, the sides are attached
        once, and each tier's rule runs where its flag is set
        (``verify.tier_flags`` + ``verify.verify_flagged``).

        Checkpoints: signatures, exact_edges, verified_pairs,
        components, survivors and clusters commit to the warehouse;
        with ``resume`` a committed stage is loaded instead of
        recomputed. Normalization, the exact-dedup keeper join and the
        candidate pairs are NOT materialized: each is a pure
        re-derivation of the input or of the committed table before it,
        so committing it buys no resume granularity the next commit
        doesn't already provide, and at production latency the extra
        commit is pure floor. ``checkpoint_mode`` accepts only ``"min"``, the name of
        this layout (any other value raises ``ValueError``).

        payload_in_survivors: when False the survivors table carries
        clip metadata but not ``bytes`` — the 100 TB shape: payloads are
        immutable in the lake and are addressed by ``clip_id``, never
        rewritten by the dedup job.
        """
        if checkpoint_mode != "min":
            raise ValueError(
                f"checkpoint_mode must be 'min', got {checkpoint_mode!r}"
            )
        cfg = self.cfg
        t_run = time.monotonic()
        compiled_before = _compiled_classes(self.spark)
        metrics: list[StageMetric] = []

        def stage(df: DataFrame, name: str, chunks: int = 0) -> DataFrame:
            return self._stage(df, name, resume, metrics, chunks)

        # ---- normalize (native exprs only) -------------------------------
        normalized = clips.select(
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
            X.normalize_text(F.col("transcript")).alias("transcript_norm"),
        )

        offset_tier = with_audio and cfg.with_offset_audio
        cores = self.spark.sparkContext.defaultParallelism
        # spread the Arrow-UDF work across every core — but only shuffle
        # when the scan is genuinely under-partitioned (a single-file
        # table or a tiny checkpoint read-back); a wide parquet scan is
        # already parallel, and repartitioning it would push the whole
        # binary payload through a shuffle for nothing. The session sets
        # spark.sql.files.maxPartitionBytes=64m so payload scans split
        # finely enough to keep every core busy without that shuffle.
        spread = _estimated_scan_partitions(normalized) < cores
        keys, digests = exact_dedup_digest_keys(
            "transcript_norm", "bytes" if with_audio else None,
            cfg.exact_digest_algo,
        )

        def add_signature_columns(df: DataFrame) -> DataFrame:
            """Every fingerprint in one select; the Arrow UDFs fuse into
            a single ArrowEvalPython over one payload read."""
            out = M.with_text_signatures(df, cfg)
            if offset_tier:
                # fuse the offset-tier landmark extraction into the SAME
                # payload pass as the SimHash: one decode feeds both
                # FFTs, and the offset tier later reads the checkpointed
                # signatures table instead of re-scanning the payload —
                # at 100 TB the payload re-read IS the cost
                asl = A.make_audio_sig_landmark_udf(
                    cfg.fft_frame, cfg.fft_hop, cfg.n_mel_bands, cfg.simhash_bits,
                    cfg.seed, cfg.fft_hop // 2, floor_db=cfg.fp_floor_db,
                )
                out = out.withColumn(
                    "__audio", asl(F.col("bytes"), F.col("codec"))
                ).select(
                    "*",
                    F.col("__audio.audio_simhash").alias("audio_simhash"),
                    F.col("__audio.landmarks").alias("landmarks"),
                )
            elif with_audio:
                ash = A.make_audio_simhash_udf(
                    cfg.fft_frame, cfg.fft_hop, cfg.n_mel_bands, cfg.simhash_bits,
                    cfg.seed, floor_db=cfg.fp_floor_db,
                )
                out = out.withColumn("audio_simhash", ash(F.col("bytes"), F.col("codec")))
            if with_audio:
                out = out.withColumn(
                    "audio_bands",
                    A.simhash_bands(F.col("audio_simhash"), cfg.simhash_bands, cfg.simhash_bits),
                )
            return out

        sig_cols = ["clip_id", "transcript_norm", "shingle_hashes", "minhash_sig", "bands"]
        if with_audio:
            sig_cols += ["audio_simhash", "audio_bands"]
        if offset_tier:
            sig_cols += ["landmarks"]

        def signature_stage(df: DataFrame, cols: list[str]) -> DataFrame:
            """Commit ``cols`` of ``df`` plus every fingerprint — the
            longest stage of a real run: cfg.signature_chunks > 0 commits
            it in chunks, so a killed job does not recompute hours of
            fingerprints. The digests it adds survive only where ``cols``
            names them."""
            if spread:
                df = df.repartition(cores * 2)
            return stage(
                add_signature_columns(df.select("*", *digests)).select(*cols),
                "signatures", cfg.signature_chunks,
            )

        def exact_stage(df: DataFrame) -> tuple[DataFrame, DataFrame]:
            """Commit keep-last edges ranked over ``df``'s digest columns
            (a narrow projection: the payload never rides the digest
            shuffle) and return ``(edges, keepers)``. The write's own row
            count decides whether the keeper anti-join broadcasts the
            dropped ids (a resumed stage has none, so the gate counts
            the committed table)."""
            edges = stage(
                digest_rank_edges(df.select("clip_id", *keys), keys), "exact_edges"
            )
            keepers = kept_from_edges(
                df, edges, "clip_id",
                cfg.exact_dedup_strategy, cfg.exact_dedup_max_broadcast_ids,
                self.wh.rows_written("exact_edges"),
            ).drop(*keys)
            return edges, keepers

        # The scan mode only orders these two stages. fused: ONE payload
        # pass computes digests and every signature, and exact dedup
        # ranks the digest columns of the committed signatures table —
        # the payload is read exactly once, but rows exact dedup drops
        # are fingerprinted too (the 100 TB shape, where payload I/O
        # dominates). dedup_first (the reference's ordering): exact
        # dedup runs on the corpus first and only keepers are
        # fingerprinted, which wins when the dup rate is high.
        # `all_rows` holds every input row's (clip_id, transcript_norm)
        # for the component assignment below.
        if cfg.signature_scan_mode == "fused":
            all_rows = signature_stage(normalized, sig_cols + keys)
            exact_edges, sigs = exact_stage(all_rows)
        else:
            all_rows = normalized
            exact_edges, keepers = exact_stage(normalized.select("*", *digests))
            sigs = signature_stage(keepers, sig_cols)

        # ---- LSH candidates ------------------------------------------------
        # The band-bucket exchange (explode -> window on (band_id,
        # band_hash)) is the shared substrate of candidate generation
        # (every verify tier) and the star-edge bucket stats.
        # Compute it ONCE — r6: for BOTH modalities in a
        # single exchange — persist it (narrow: id + band ints + two
        # window columns), and let every consumer read the cache.
        # Text and audio bands are concatenated before the explode, so
        # the positional band_id is 0..bands-1 for text and
        # bands..bands+simhash_bands-1 for audio: the id spaces are
        # disjoint, buckets can never mix across modalities, the
        # candidate pass tells the tiers apart by band_id, and the
        # per-modality stats filter their slice of the one cached,
        # already-partitioned frame (one shuffle + one cache
        # materialization instead of two of each; per-modality pair
        # sets and bucket stats are unchanged because every
        # (band_id, band_hash) group is identical to the split form —
        # the audio band_hash already encodes its own band index, so
        # only the internal positional id shifts).
        n_text_bands = cfg.bands
        all_bands = (
            F.concat(F.col("bands"), F.col("audio_bands"))
            if with_audio
            else F.col("bands")
        )
        sized_all = lsh.size_buckets(
            lsh.explode_bands(sigs.withColumn("__all_bands", all_bands),
                              "clip_id", "__all_bands")
        ).persist()
        sized_lm = None
        # everything from candidates through the bucket stats runs under
        # one try/finally: an exception anywhere in between must not leak
        # the persisted band-bucket frames into executor storage for the
        # rest of the application
        try:
            offset_pairs = None
            if offset_tier:
                from ..operators.audio_segments import (
                    audio_offset_pairs_from_sigs, landmark_inverted_index,
                )

                # size the landmark inverted index once and share it between
                # candidate generation and the stop-landmark cap stats
                sized_lm = lsh.size_buckets(landmark_inverted_index(sigs)).persist()
                offset_pairs = audio_offset_pairs_from_sigs(
                    sigs, cfg, cfg.landmark_containment, cfg.landmark_min_shared,
                    sized_inverted=sized_lm, verify_mode=cfg.offset_verify_mode,
                )

            # ---- candidates: every bucket's pairs once, flagged per tier --
            # One pair expansion over the shared band-bucket cache and ONE
            # groupBy(id_a, id_b) carrying a flag per verify tier (text,
            # containment, audio; the offset tier's already-verified pairs
            # join the same aggregation).
            candidates = verify.tier_flags(
                lsh.bucket_pairs(sized_all, cfg.max_bucket_size),
                n_text_bands, cfg.containment_bands, with_audio,
                pre_verified=offset_pairs,
            )

            # ---- verify: one pass for every tier ---------------------------
            # The sides are attached once (2 joins, not 2 per tier) and each
            # tier's rule runs only where its flag is set. No pre-salting
            # shuffle: the side joins hash by id_a/id_b regardless, and hot
            # keys (one doc in many pairs) are split by AQE skew handling.
            # Exact Jaccard runs on the int64 shingle-hash arrays, not the
            # 9-char string shingles: same value (xxhash64 collisions in
            # ~10^2-element sets are ~2^-50) at a fraction of the join
            # payload and intersect cost.
            verified = stage(
                verify.verify_flagged(candidates, sigs, cfg), "verified_pairs"
            )

            # star-cap stats AFTER the verified commit, so the band-bucket
            # caches are already populated: one ungrouped aggregate per
            # cached frame, split per modality by band_id
            slices = {"text": F.col("band_id") < n_text_bands}
            if with_audio:
                slices["audio"] = F.col("band_id") >= n_text_bands
            lsh_stats = lsh.bucket_stats_by(sized_all, cfg.max_bucket_size, slices)
            if sized_lm is not None:
                lsh_stats.update(lsh.bucket_stats_by(
                    sized_lm, cfg.max_bucket_size, {"landmarks": None}
                ))
        finally:
            sized_all.unpersist()
            if sized_lm is not None:
                sized_lm.unpersist()

        # ---- connected components -------------------------------------------
        all_edges = verified.select("id_a", "id_b").unionByName(
            exact_edges.select("id_a", "id_b")
        )
        t_cc = time.monotonic()
        cc_info: dict = {}
        comp = connected_components(
            all_edges, "id_a", "id_b", cfg.cc_max_iterations,
            local_threshold=cfg.cc_local_edges, info=cc_info,
        )
        # the fixpoint's driver jobs (fingerprint collects / union-find
        # collect) run inside the call above — surface them as their own
        # metric so the fixed-latency floor is observable per run
        metrics.append(
            StageMetric("cc_fixpoint", cc_info.get("n_edges", -1), time.monotonic() - t_cc)
        )
        lsh_stats["cc"] = cc_info
        # fused mode: the committed signatures table carries every row's
        # (clip_id, transcript_norm) — committed BEFORE exact dedup, so
        # its row set equals `normalized`'s — and reading two narrow
        # columns from that checkpoint replaces a full re-scan of the
        # corpus table + a transcript re-normalize (measured at 648k
        # clips / 47 GB: the components stage drops ~20 s -> ~2 s at 8
        # cores; at lake scale the avoided corpus scan is the whole
        # point). dedup_first commits only keeper rows, so that path
        # keeps reading `normalized` (dropped rows must still appear in
        # the final clusters).
        clustered = assign_components(
            all_rows.select("clip_id", "transcript_norm"), comp
        )
        # always materialize: both the survivors and the clusters outputs
        # consume this (lazy it would run the assign join twice), and the
        # component assignment is the natural resume point after the CC loop
        clustered = stage(clustered, "components")

        # ---- outputs --------------------------------------------------------
        # survivors and clusters both derive from the COMMITTED
        # components table and share no lineage past it — their write
        # jobs run concurrently from two driver threads (Spark's
        # scheduler interleaves independent jobs), overlapping the last
        # two commits of the run instead of serializing them
        meta_cols = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
        if payload_in_survivors:
            meta_cols.insert(1, "bytes")
        survivors_df = select_survivors(clustered).join(
            clips.select(*meta_cols), "clip_id"
        )
        clusters_df = cluster_summary(clustered)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_surv = pool.submit(stage, survivors_df, "survivors")
            f_clus = pool.submit(stage, clusters_df, "clusters")
            survivors = f_surv.result()
            clusters = f_clus.result()

        return PipelineResult(
            clusters=clusters, survivors=survivors, verified_pairs=verified,
            metrics=metrics, lsh_stats=lsh_stats,
            wall_sec=time.monotonic() - t_run,
            exact_digest_algo=cfg.exact_digest_algo,
            codegen_classes_compiled=_compiled_classes(self.spark) - compiled_before,
        )
