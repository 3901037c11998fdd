"""The benchmark's workloads: seeded inputs, timed passes, output checks
and the decomposed traced pass of each.

Every workload drives the package only through its public functions.
Inputs depend on the seed alone; ground truth comes from the generator
(the planted kind is the clip-id suffix, the planted group its prefix)
and is never shown to the program.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel
from pyspark.sql import functions as F

from sems_event_deduplication_spark.conf import DedupConfig
from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

from tracing import stage_totals, ungrouped_job_ids, wait_listener_bus

# a pass fails its output check below these
MIN_RECALL = 0.99
MIN_PRECISION = 0.95

def checksum(df, *extra) -> dict:
    """Row count and an order-independent content hash of a frame, plus
    any ``extra`` aggregates computed in the same scan."""
    row = df.select(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
        *extra,
    ).collect()[0].asDict()
    row["xxhash64_xor"] = f"{(row.pop('h') or 0) & (2**64 - 1):016x}"
    return row


def materialize(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def group_of(clip_id: str) -> str:
    return clip_id.split("_", 1)[0]


class Workload:
    """One workload. ``generate`` makes the inputs (not timed), ``build``
    and ``warmup`` are the set-up, ``run_pass`` is one timed pass plus
    its output check, and ``traced_pass`` the decomposed pass of the
    traced run."""

    name = ""
    cfg = DedupConfig()
    min_passes = 2
    max_passes = 100

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{tag}_{self._n}")
        os.makedirs(path)
        return path

    def build(self) -> None:
        pass

    def config(self) -> dict:
        return {}


# ---------------------------------------------------------------- batch


class AudioBatch(Workload):
    """DedupPipeline.run on make_corpus_dist audio clips: fused scan, min
    checkpoints, metadata-only survivors."""

    name = "audio_batch"
    N_GROUPS = 1500

    def config(self) -> dict:
        return {
            "groups": self.N_GROUPS,
            "dur_s": [0.25, 0.9], "with_audio": True,
            "checkpoint_mode": "min", "payload_in_survivors": False,
        }

    def generate(self) -> dict:
        from sems_event_deduplication_spark.synth import make_corpus_dist

        self.path = os.path.join(self.work, "clips")
        make_corpus_dist(
            self.spark, self.N_GROUPS, seed=self.seed, dur_lo=0.25, dur_hi=0.9
        ).drop("group_id").write.parquet(self.path)
        clips = self.spark.read.parquet(self.path)
        ids = [r[0] for r in clips.select("clip_id").collect()]
        by_group: dict[str, list[str]] = {}
        for cid in ids:
            by_group.setdefault(group_of(cid), []).append(cid)
        # every group is its base clip plus at most one planted dup
        self.planted = {
            tuple(sorted(m)) for m in by_group.values() if len(m) == 2
        }
        self.n_clips = len(ids)
        stats = checksum(clips, F.sum(F.length("bytes")).alias("payload"))
        self.payload_mb = stats.pop("payload") / 1e6
        return {
            "clips": stats, "planted_pairs": len(self.planted),
            "payload_mb": self.payload_mb,
        }

    def _run(self, clips):
        from sems_event_deduplication_spark.plans.pipeline import DedupPipeline

        wh_dir = self.fresh_dir("wh")
        wh = WarehouseIO(self.spark, wh_dir)
        t0 = time.monotonic()
        res = DedupPipeline(self.spark, self.cfg, wh).run(
            clips, with_audio=True, checkpoint_mode="min",
            payload_in_survivors=False,
        )
        return time.monotonic() - t0, res, wh_dir

    def warmup(self) -> None:
        # one cold pass over the timed input. Pass times keep falling over
        # the next few passes (about 8.9, 7.7, 6.3 s); a second warm-up
        # did not cure that and costs a pass of the time budget.
        self._run(self.spark.read.parquet(self.path))

    def check(self, clusters) -> dict:
        pred: set[tuple[str, str]] = set()
        for r in clusters.filter(F.col("n_members") > 1).select("member_ids").collect():
            m = sorted(r[0])
            pred.update((a, b) for i, a in enumerate(m) for b in m[i + 1:])
        found = len(pred & self.planted)
        same = sum(1 for a, b in pred if group_of(a) == group_of(b))
        recall = found / len(self.planted)
        precision = same / len(pred) if pred else 0.0
        return {
            "recall": recall, "precision": precision,
            "ok": recall >= MIN_RECALL and precision >= MIN_PRECISION,
        }

    def run_pass(self, i: int) -> dict:
        before = ungrouped_job_ids(self.spark)
        wall, res, wh_dir = self._run(self.spark.read.parquet(self.path))
        wait_listener_bus(self.spark)
        jobs = ungrouped_job_ids(self.spark) - before
        out = {"wall": wall, "units": self.n_clips, "batch_walls": [wall]}
        out.update(self.check(res.clusters))
        out["checks"] = [out["ok"]]
        out["counters"] = {
            "pipeline.spark_jobs": len(jobs),
            "verify.verified_pairs": res.verified_pairs.count(),
            "components.cc_edges": int(res.lsh_stats["cc"].get("n_edges", -1)),
        }
        if i == 0:
            # candidates are not materialized in min mode: re-derive them
            # from the committed signatures, outside the timed window
            sigs = self.spark.read.parquet(os.path.join(wh_dir, "signatures"))
            dropped = self.spark.read.parquet(os.path.join(wh_dir, "exact_edges"))
            out["counters"]["lsh.candidates"] = self._candidates(sigs.join(
                dropped.select(F.col("id_b").alias("clip_id")), "clip_id", "left_anti"
            ))
        out["stages"] = {sm.stage: sm.seconds for sm in res.metrics}
        out["spark"] = stage_totals(self.spark, jobs)
        return out

    def _candidates(self, sigs) -> int:
        from sems_event_deduplication_spark.operators import lsh

        cfg = self.cfg
        text = lsh.candidate_pairs(
            lsh.explode_bands(sigs, "clip_id", "bands"), cfg.max_bucket_size
        )
        audio = lsh.candidate_pairs(
            lsh.explode_bands(sigs, "clip_id", "audio_bands"), cfg.max_bucket_size
        )
        return text.count() + audio.count()

    def traced_pass(self, tr) -> dict:
        """The pipeline's fused-scan path, called layer by layer with each
        layer's output materialized inside its own span."""
        from sems_event_deduplication_spark.functions import audio as A
        from sems_event_deduplication_spark.functions import minhash as M
        from sems_event_deduplication_spark.functions import text as X
        from sems_event_deduplication_spark.operators import lsh, verify
        from sems_event_deduplication_spark.operators.components import (
            assign_components, connected_components,
        )
        from sems_event_deduplication_spark.operators.exact_dedup import (
            digest_rank_edges, exact_dedup_digest_keys, kept_from_edges,
        )
        from sems_event_deduplication_spark.operators.survivors import (
            cluster_summary, select_survivors,
        )

        cfg = self.cfg
        spark = self.spark
        wh_dir = self.fresh_dir("trace_wh")
        wh = WarehouseIO(spark, wh_dir)
        clips = spark.read.parquet(self.path)
        held = []
        m: dict = {"audio.payload_mb": self.payload_mb}

        def keep(df):
            df, n = materialize(df)
            held.append(df)
            return df, n

        normalized = clips.select(
            "clip_id", "bytes", "codec",
            X.normalize_text(F.col("transcript")).alias("transcript_norm"),
        )
        with tr.span("pass"):
            with tr.span("audio.sign"):
                ash = A.make_audio_simhash_udf(
                    cfg.fft_frame, cfg.fft_hop, cfg.n_mel_bands, cfg.simhash_bits,
                    cfg.seed, floor_db=cfg.fp_floor_db,
                )
                audio, _ = keep(normalized.select(
                    "clip_id", ash(F.col("bytes"), F.col("codec")).alias("audio_simhash"),
                ).withColumn(
                    "audio_bands",
                    A.simhash_bands(F.col("audio_simhash"), cfg.simhash_bands, cfg.simhash_bits),
                ))
            with tr.span("minhash.sign"):
                mh = M.make_minhash_udf(cfg.num_perm, cfg.seed)
                text, _ = keep(normalized.select(
                    "clip_id", "transcript_norm",
                    M.shingle_hashes(
                        X.char_shingles(F.col("transcript_norm"), cfg.shingle_k)
                    ).alias("shingle_hashes"),
                ).withColumn("minhash_sig", mh(F.col("shingle_hashes"))).withColumn(
                    "bands", M.band_hashes(F.col("minhash_sig"), cfg.bands, cfg.rows_per_band)
                ))
            with tr.span("exact_dedup.edges") as c:
                keys, digests = exact_dedup_digest_keys(
                    "transcript_norm", "bytes", cfg.exact_digest_algo
                )
                edges, c["edges"] = keep(digest_rank_edges(
                    normalized.select("clip_id", *digests), keys
                ))
                m["exact_dedup.edges"] = c["edges"]
            with tr.span("exact_dedup.keep"):
                sigs_all = text.join(audio, "clip_id")
                sigs, _ = keep(kept_from_edges(
                    sigs_all, edges, "clip_id",
                    cfg.exact_dedup_strategy, cfg.exact_dedup_max_broadcast_ids,
                ))
            with tr.span("lsh.buckets"):
                sized, _ = keep(lsh.size_buckets(lsh.explode_bands(
                    sigs.withColumn("__all", F.concat("bands", "audio_bands")),
                    "clip_id", "__all",
                )))
                sized_text = sized.filter(F.col("band_id") < cfg.bands)
                sized_audio = sized.filter(F.col("band_id") >= cfg.bands)
            with tr.span("lsh.candidates") as c:
                cand_text, nt = keep(lsh.candidate_pairs(sized_text, cfg.max_bucket_size))
                cand_audio, na = keep(lsh.candidate_pairs(sized_audio, cfg.max_bucket_size))
                c["candidates"] = m["lsh.candidates"] = nt + na
            with tr.span("lsh.stats") as c:
                stats = lsh.bucket_stats(sized_text, cfg.max_bucket_size).unionByName(
                    lsh.bucket_stats(sized_audio, cfg.max_bucket_size)
                ).collect()
                c["star_buckets"] = m["lsh.star_buckets"] = sum(
                    int(r["n_star_buckets"] or 0) for r in stats)
                c["pairs_not_enumerated"] = m["lsh.pairs_not_enumerated"] = sum(
                    int(r["n_pairs_not_enumerated"] or 0) for r in stats)
            with tr.span("verify.jaccard"):
                jac, _ = keep(verify.verify_jaccard(
                    cand_text, sigs, cfg.num_perm, cfg.jaccard_threshold,
                    cfg.est_margin, shingles_col="shingle_hashes",
                ))
            with tr.span("verify.containment"):
                con, _ = keep(verify.containment_pairs(
                    sized_text, sigs, cfg.max_bucket_size, n_bands=cfg.containment_bands
                ))
            with tr.span("verify.hamming"):
                ham, _ = keep(verify.verify_hamming(cand_audio, sigs, cfg.hamming_threshold))
            with tr.span("verify.union") as c:
                verified, c["verified_pairs"] = keep(
                    jac.select("id_a", "id_b")
                    .unionByName(con.select("id_a", "id_b"))
                    .unionByName(ham.select("id_a", "id_b"))
                    .distinct()
                )
                m["verify.verified_pairs"] = c["verified_pairs"]
            with tr.span("components.cc") as c:
                info: dict = {}
                comp, _ = keep(connected_components(
                    verified.unionByName(edges.select("id_a", "id_b")),
                    "id_a", "id_b", cfg.cc_max_iterations,
                    local_threshold=cfg.cc_local_edges, info=info,
                ))
                c.update(info)
                m["components.cc_edges"] = int(info.get("n_edges", -1))
                m["components.cc_iterations"] = int(info.get("iterations", 0))
            with tr.span("components.assign"):
                clustered, _ = keep(assign_components(
                    sigs_all.select("clip_id", "transcript_norm"), comp
                ))
            with tr.span("survivors.outputs"):
                survivors, _ = keep(select_survivors(clustered).join(
                    clips.select("clip_id", "sr_hz", "dur_ms", "codec", "transcript"),
                    "clip_id",
                ))
                clusters, _ = keep(cluster_summary(clustered))
            with tr.span("warehouse.write"):
                wh.save(survivors, "survivors")
                wh.save(clusters, "clusters")
        m["warehouse.mb_written"] = dir_mb(wh_dir)
        m["verify.yield"] = m["verify.verified_pairs"] / max(1, m["lsh.candidates"])
        chk = self.check(clusters)
        for df in held:
            df.unpersist()
        return {"metrics": m, "check": chk}


# --------------------------------------------------------------- ingest


class DailyIngest(Workload):
    """A standing signature index takes a day's batch at a time:
    ``incremental_dedup(batch, load_index(wh))``, write the hits, then
    ``append_to_index(novel)``. Set-up signs the base index and commits
    PRE_DAYS increments, and a warm-up batch commits one more. Every
    pass then ingests the next PASS_DAYS days into the same warehouse, so
    the index grows by one increment per batch and the last batch of the
    first pass reads PRE_DAYS + PASS_DAYS increments."""

    name = "daily_ingest"
    cfg = DedupConfig(jaccard_threshold=0.5)
    INDEX_GROUPS = 2500
    FRESH_PER_DAY = 120
    PRE_DAYS = 6
    PASS_DAYS = 2
    TRACE_DAYS = 5
    min_passes = 1
    max_passes = 5
    HIT_KINDS = ("exact", "neartxt", "contain")

    def config(self) -> dict:
        return {
            "index_groups": self.INDEX_GROUPS, "fresh_per_day": self.FRESH_PER_DAY,
            "pre_days": self.PRE_DAYS, "pass_days": self.PASS_DAYS,
            "traced_days": self.TRACE_DAYS, "max_passes": self.max_passes,
            "dur_s": [0.01, 0.02], "payload_col": None,
        }

    def generate(self) -> dict:
        from sems_event_deduplication_spark.synth import make_corpus_dist

        g0, f = self.INDEX_GROUPS, self.FRESH_PER_DAY
        days = self.PRE_DAYS + 1 + max(
            self.PASS_DAYS * self.max_passes, self.PASS_DAYS + self.TRACE_DAYS
        )
        gid = F.substring("clip_id", 2, 8).cast("int")
        kind = F.substring_index("clip_id", "_", -1)
        fresh_day = F.floor((gid - g0) / f) + 1
        # index groups' dups spread over every day; a fresh group's base
        # lands on its day and its dup on the next day (a cross-batch dup)
        day = (
            F.when((gid < g0) & (kind == "base"), 0)
            .when(gid < g0, F.pmod(gid, days) + 1)
            .when(kind == "base", fresh_day)
            .otherwise(fresh_day + 1)
        )
        path = os.path.join(self.work, "ingest")
        make_corpus_dist(
            self.spark, g0 + f * days, seed=self.seed, dur_lo=0.01, dur_hi=0.02
        ).select("clip_id", "transcript", day.alias("day")).filter(
            F.col("day") <= days
        ).write.partitionBy("day").parquet(path)
        self.table = self.spark.read.parquet(path)
        self.days = {d: os.path.join(path, f"day={d}") for d in range(days + 1)}
        stats = checksum(self.table, *[
            F.sum((F.col("day") == d).cast("int")).alias(str(d)) for d in range(days + 1)
        ])
        self.batch_sizes = {d: stats.pop(str(d)) for d in range(days + 1)}
        return {
            "ingest": stats,
            "index_rows": self.batch_sizes[0],
            "batch_rows": [self.batch_sizes[d] for d in range(1, days + 1)],
        }

    def _day(self, d: int):
        return self.spark.read.parquet(self.days[d])

    def build(self) -> None:
        from sems_event_deduplication_spark.operators.incremental import (
            append_to_index, sign_batch,
        )

        self.wh = wh = WarehouseIO(self.spark, os.path.join(self.work, "wh"))
        self.next_day = self.PRE_DAYS + 1
        wh.save(sign_batch(self._day(0), self.cfg), "signatures")
        # pre-committed days append their fresh rows only, so their dups
        # arriving in a later batch must hit an increment
        g0, f = self.INDEX_GROUPS, self.FRESH_PER_DAY
        gid = F.substring("clip_id", 2, 8).cast("int")
        fresh, _ = materialize(sign_batch(self.table.filter(
            (F.col("day") <= self.PRE_DAYS) & (gid >= g0)
            & (F.substring_index("clip_id", "_", -1) == "base")
        ), self.cfg))
        # four commits at a time: committing an increment costs more the
        # more are committed (append_to_index re-reads the index); with
        # 14 increments, one at a time took the build from 16 s to 23 s
        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(lambda d: append_to_index(
                fresh.filter((gid >= g0 + (d - 1) * f) & (gid < g0 + d * f)),
                wh, f"pre{d:03d}",
            ), range(1, self.PRE_DAYS + 1)))
        fresh.unpersist()

    def _days(self, n: int) -> list[int]:
        """The next n days to ingest."""
        first = self.next_day
        self.next_day += n
        return list(range(first, first + n))

    def _batch(self, d: int, tag: str, check: bool = True) -> dict:
        """One ingest batch: the timed work, then (untimed) its check."""
        from sems_event_deduplication_spark.operators.incremental import (
            append_to_index, incremental_dedup, load_index,
        )
        from sems_event_deduplication_spark.operators.strategies import (
            release_gated_broadcasts,
        )

        wh = self.wh
        batch = self._day(d)
        before = ungrouped_job_ids(self.spark)
        t0 = time.monotonic()
        idx = load_index(wh)
        out = incremental_dedup(batch, idx, self.cfg)
        wh.save(hits_table(out), f"hits_{tag}")
        append_to_index(out["novel"], wh, tag)
        wall = time.monotonic() - t0
        if not check:
            release_gated_broadcasts()
            return {"wall": wall}
        wait_listener_bus(self.spark)
        jobs = ungrouped_job_ids(self.spark) - before
        got = self._check(wh.load(f"hits_{tag}"), d)
        got.update(wall=wall, scans=index_scans(idx), jobs=jobs)
        release_gated_broadcasts()
        return got

    def _check(self, hits, d: int) -> dict:
        rows = hits.select("id_new", "id_indexed", "jaccard").collect()
        batch_ids = [r[0] for r in self._day(d).select("clip_id").collect()]
        expect = {c for c in batch_ids if c.rsplit("_", 1)[1] in self.HIT_KINDS}
        hit_new = {r[0] for r in rows}
        right = sum(1 for r in rows if group_of(r[0]) == group_of(r[1]))
        # The check holds the program's guarantees: every dup that
        # normalizes to its base's transcript hits, and every hit clears
        # the Jaccard threshold. A _contain dup (J 0.5-0.7 against its
        # base) is a near-tier hit with LSH probability below 1, and an
        # unplanted hit can be a true near dup between synthetic
        # transcripts that share a template; both count in
        # planted_recall / pair_precision, not as a failed check.
        sure = {c for c in expect if not c.endswith("_contain")}
        return {
            "expected": len(expect), "found": len(expect & hit_new),
            "hits": len(rows), "right": right,
            "unplanted_hits": [
                [r[0], r[1], r[2]] for r in rows if group_of(r[0]) != group_of(r[1])
            ],
            "missed": sorted(expect - hit_new)[:5],
            "ok": sure <= hit_new
            and all(r[2] >= self.cfg.jaccard_threshold for r in rows),
        }

    def warmup(self) -> None:
        self._batch(self._days(1)[0], "warm", check=False)

    def run_pass(self, i: int) -> dict:
        days = self._days(self.PASS_DAYS)
        res = [self._batch(d, f"d{d:03d}") for d in days]
        jobs = set().union(*(r["jobs"] for r in res))
        exp = sum(r["expected"] for r in res)
        found = sum(r["found"] for r in res)
        hits = sum(r["hits"] for r in res)
        right = sum(r["right"] for r in res)
        recall = found / exp if exp else 0.0
        precision = right / hits if hits else 0.0
        return {
            "wall": sum(r["wall"] for r in res),
            "units": sum(self.batch_sizes[d] for d in days),
            "batch_walls": [r["wall"] for r in res],
            "recall": recall, "precision": precision,
            "checks": [r["ok"] for r in res],
            "counters": {"incremental.index_file_scans": [r["scans"] for r in res]},
            "latency_vs_increments": [
                [r["scans"] - 1, round(r["wall"], 4)] for r in res
            ],
            "batches": [
                {k: r[k] for k in ("expected", "found", "unplanted_hits", "missed")}
                for r in res
            ],
            "spark": stage_totals(self.spark, jobs),
        }

    def traced_pass(self, tr) -> dict:
        """One pass with each batch split into spans. The sign and
        candidate layers are also timed alone, under a side span outside
        the pass (incremental_dedup fuses them into its exact and verify
        actions, so they repeat there)."""
        from sems_event_deduplication_spark.operators import lsh
        from sems_event_deduplication_spark.operators.incremental import (
            append_to_index, batch_vs_index_candidates, incremental_dedup,
            load_index, sign_batch,
        )
        from sems_event_deduplication_spark.operators.strategies import (
            release_gated_broadcasts,
        )

        cfg = self.cfg
        wh = self.wh
        days = self._days(self.TRACE_DAYS)
        mb_before = dir_mb(wh.base_dir)
        m: dict = {}
        latency = []
        with tr.span("side"):
            with tr.span("incremental.sign"):
                signed, _ = materialize(sign_batch(self._day(days[0]), cfg))
            idx = load_index(wh)
            with tr.span("incremental.candidates") as c:
                cands, c["candidates"] = materialize(batch_vs_index_candidates(
                    lsh.explode_bands(signed, "clip_id", "bands"),
                    lsh.explode_bands(idx, "clip_id", "bands"),
                    cfg.max_bucket_size,
                ))
                m["incremental.candidates"] = c["candidates"]
            signed.unpersist()
            cands.unpersist()
        with tr.span("pass"):
            for d in days:
                tag = f"d{d:03d}"
                with tr.span("batch") as c:
                    t0 = time.monotonic()
                    with tr.span("incremental.load_index") as cl:
                        idx = load_index(wh)
                        cl["index_file_scans"] = index_scans(idx)
                    with tr.span("incremental.exact") as ce:
                        out = incremental_dedup(self._day(d), idx, cfg)
                        ce["exact_hits"] = out["exact_hits"].count()
                    with tr.span("incremental.verify") as cv:
                        cv["neardup_hits"] = out["neardup_hits"].count()
                    with tr.span("warehouse.write"):
                        wh.save(hits_table(out), f"hits_{tag}")
                    with tr.span("incremental.append"):
                        append_to_index(out["novel"], wh, tag)
                    c["wall"] = time.monotonic() - t0
                    latency.append([cl["index_file_scans"] - 1, c["wall"]])
                release_gated_broadcasts()
        m["incremental.index_file_scans"] = latency[-1][0] + 1
        m["warehouse.mb_written"] = dir_mb(wh.base_dir) - mb_before
        leg = StreamLeg(self.spark, self.fresh_dir("stream"), self.seed)
        stream_inputs = leg.generate()
        stream = leg.traced(tr)
        m.update(stream["metrics"])
        return {
            "metrics": m, "check": stream["check"],
            # as many batches as the untraced pass, a little later
            "same_work_s": sum(wall for _, wall in latency[:self.PASS_DAYS]),
            "latency_vs_increments": latency,
            "stream": {
                "config": leg.config(), "inputs": stream_inputs,
                "wall_s": stream["wall"], "batch_walls_s": stream["batch_walls"],
            },
        }


def hits_table(out: dict):
    """The hits an ingest batch writes: exact hits at Jaccard 1, near
    hits with their verified Jaccard."""
    return out["exact_hits"].withColumn("jaccard", F.lit(1.0)).unionByName(
        out["neardup_hits"].select("id_new", "id_indexed", "jaccard")
    )


def index_scans(df) -> int:
    """File scans in a frame's optimized plan (one per parquet read)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("Relation [")


# --------------------------------------------------------------- stream


class StreamLeg:
    """``streaming_neardup_join_candidates`` with default arguments over a
    file-sourced stream driven to completion (one micro-batch per file).
    Every 33rd event is a planted near dup of its predecessor; one event
    in BOILER_MOD belongs to one of three boilerplate families whose
    members share their bucket keys, so the join pairs them all. It runs
    in the daily_ingest traced run (its run time does not fit a timed
    workload of its own; see README.md)."""

    N_EVENTS = 2000
    N_FILES = 4
    WARM_EVENTS = 400
    BOILER_MOD = 20
    N_FAMILIES = 3

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def config(self) -> dict:
        return {
            "events": self.N_EVENTS, "files": self.N_FILES,
            "max_files_per_trigger": 1, "warmup_events": self.WARM_EVENTS,
            "events_per_event_s": 10, "boilerplate_share": 1 / self.BOILER_MOD,
            "operator_args": "defaults",
        }

    def _boiler(self, i):
        return F.pmod(i, F.lit(self.BOILER_MOD)) == 5

    def _write(self, n: int, n_files: int, tag: str) -> str:
        i = F.col("id")
        boiler = self._boiler(i)
        dup = (F.pmod(i, 33) == 32) & ~boiler & ~self._boiler(i - 1)
        base = F.when(dup, i - 1).otherwise(i).cast("string")
        seed = F.lit(str(self.seed))
        fam = F.pmod(i, self.N_FAMILIES).cast("string")
        own = [F.md5(F.concat_ws(":", seed, base, F.lit(k))) for k in range(20)]
        fam_toks = [F.md5(F.concat_ws(":", seed, F.lit("B"), fam, F.lit(k))) for k in range(20)]
        text = F.when(
            boiler, F.concat_ws(" ", *fam_toks, F.md5(F.concat_ws(":", seed, i)))
        ).otherwise(
            F.concat_ws(" ", *own, F.when(dup, F.lit("extra")).otherwise(F.lit("")))
        )
        docs = self.spark.range(0, n, 1, n_files).select(
            F.concat(F.lit("d"), i).alias("clip_id"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + F.make_interval(secs=i / F.lit(10.0))).alias("ts"),
            text.alias("transcript"),
        )
        path = os.path.join(self.work, tag)
        docs.write.json(path)
        # FileStreamSource orders files by modification time; part-file
        # name order is event-time order, so stamp increasing mtimes
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        t_base = time.time() - len(parts) - 10
        for k, f in enumerate(parts):
            os.utime(os.path.join(path, f), (t_base + k, t_base + k))
        return path

    def generate(self) -> dict:
        self.warm_path = self._write(self.WARM_EVENTS, 1, "warm_docs")
        self.path = self._write(self.N_EVENTS, self.N_FILES, "docs")
        self.schema = self.spark.read.json(self.path).schema
        self.planted = sum(
            1 for k in range(32, self.N_EVENTS, 33)
            if k % self.BOILER_MOD != 5 and (k - 1) % self.BOILER_MOD != 5
        )
        self.progress = ProgressLog(self.spark)
        return {
            "docs": checksum(self.spark.read.json(self.path)),
            "warmup_docs": checksum(self.spark.read.json(self.warm_path)),
            "planted_pairs": self.planted,
        }

    def _run(self, path: str, name: str) -> float:
        from sems_event_deduplication_spark.streaming.stream_dedup import (
            run_stream_to_memory, streaming_neardup_join_candidates,
        )

        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1).json(path)
        )
        t0 = time.monotonic()
        run_stream_to_memory(streaming_neardup_join_candidates(stream), name, "append")
        return time.monotonic() - t0

    def _check(self, name: str) -> dict:
        t = self.spark.table(name)
        emitted = t.count()
        a = F.substring("id_a", 2, 12).cast("long")
        b = F.substring("id_b", 2, 12).cast("long")
        lo, hi = F.least(a, b), F.greatest(a, b)
        planted = (
            (hi - lo == 1) & (F.pmod(hi, 33) == 32)
            & ~self._boiler(hi) & ~self._boiler(lo)
        )
        family = (
            self._boiler(a) & self._boiler(b)
            & (F.pmod(a, self.N_FAMILIES) == F.pmod(b, self.N_FAMILIES))
        )
        r = t.select("id_a", "id_b").distinct().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(planted, 1).otherwise(0)).alias("planted"),
            F.sum(F.when(planted | family, 1).otherwise(0)).alias("right"),
        ).collect()[0]
        recall = (r["planted"] or 0) / self.planted
        precision = (r["right"] or 0) / r["n"] if r["n"] else 0.0
        return {
            "recall": recall, "precision": precision, "emitted": emitted,
            "distinct_pairs": int(r["n"]),
            "ok": recall >= MIN_RECALL and precision >= MIN_PRECISION,
        }

    def traced(self, tr) -> dict:
        """A warm-up stream, then the stream under its own root span. The
        operator is one JVM-native streaming query with no public seams
        inside, so its micro-batch progress gives the per-layer counts."""
        self._run(self.warm_path, "stream_warm")
        self.progress.wait("stream_warm")
        self.spark.catalog.dropTempView("stream_warm")
        name = "stream_pairs"
        with tr.span("stream"):
            with tr.span("stream.run") as c:
                wall = self._run(self.path, name)
        prog = self.progress.wait(name)
        chk = self._check(name)
        self.spark.catalog.dropTempView(name)
        c.update(batches=len(prog), pairs_emitted=chk["emitted"])
        return {
            "metrics": {
                "stream.batches": len(prog),
                "stream.state_rows": max((p["state_rows"] for p in prog), default=0),
                "stream.pairs_emitted": chk["emitted"],
            },
            "check": chk, "wall": wall,
            "batch_walls": [p["wall"] for p in prog],
        }


class ProgressLog:
    """Micro-batch progress of every streaming query, by query name."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log: dict[str, list[dict]] = {}
        done: set[str] = set()
        names: dict[str, str] = {}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                names[str(event.id)] = event.name

            def onQueryProgress(self, event):
                p = event.progress
                log.setdefault(p.name, []).append({
                    "rows": p.numInputRows,
                    "wall": p.durationMs.get("triggerExecution", 0) / 1000.0,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                done.add(names.get(str(event.id), ""))

        self.log, self.done = log, done
        spark.streams.addListener(_Listener())

    def wait(self, name: str, timeout: float = 60.0) -> list[dict]:
        t_end = time.monotonic() + timeout
        while name not in self.done:
            if time.monotonic() > t_end:
                raise TimeoutError(f"no termination event for stream {name}")
            time.sleep(0.05)
        return self.log.get(name, [])


WORKLOADS = {w.name: w for w in (AudioBatch, DailyIngest)}
