"""End-to-end oracle test (SURVEY.md §5 tests 2-4, FIXTURES.md §5).

Dup-pair recall >= 0.99 vs the reference decision semantics, per-row
payload invariants, permutation invariance, resume idempotence.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from sems_event_deduplication_spark.conf import DedupConfig
from sems_event_deduplication_spark.plans.pipeline import DedupPipeline
from sems_event_deduplication_spark.sources.warehouse import WarehouseIO
from sems_event_deduplication_spark.synth import AUDIO_CLIPS_SCHEMA, make_corpus_pdf
from oracle_utils import intra_pairs, oracle_components

CFG = DedupConfig()
# the stages a run commits to the warehouse
COMMITTED = {
    "signatures", "exact_edges", "verified_pairs",
    "components", "survivors", "clusters",
}


def _written_rows(res) -> dict:
    return {m.stage: m.rows_out for m in res.metrics if m.stage in COMMITTED}


@pytest.fixture(scope="module")
def result(spark, corpus, corpus_pdf):
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_e2e_"))
    res = DedupPipeline(spark, CFG, wh).run(corpus, with_audio=True)
    pred = {
        m: r["component"]
        for r in res.clusters.collect()
        for m in r["member_ids"]
    }
    oracle = oracle_components(corpus_pdf, CFG, with_audio=True)
    return res, pred, oracle


def test_recall_and_precision_vs_oracle(result):
    _, pred, oracle = result
    op, pp = intra_pairs(oracle), intra_pairs(pred)
    assert op, "oracle found no dup pairs — fixture broken"
    recall = len(op & pp) / len(op)
    precision = len(op & pp) / len(pp) if pp else 1.0
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99"
    assert precision >= 0.90, f"precision {precision:.4f}"


def test_every_input_row_assigned(result, corpus_pdf):
    _, pred, _ = result
    assert set(pred) == set(corpus_pdf["clip_id"])


def test_survivor_payload_invariant(result, spark, corpus):
    """BASELINE.json per-row invariant: survivors carry their source
    payload unmodified — transcript byte-equality + identical bytes
    (SNR is trivially inf for byte-identical PCM)."""
    res, _, _ = result
    joined = res.survivors.alias("o").join(
        corpus.alias("i"), F.col("o.clip_id") == F.col("i.clip_id")
    )
    bad = joined.filter(
        (F.col("o.transcript") != F.col("i.transcript"))
        | (F.sha2(F.col("o.bytes"), 256) != F.sha2(F.col("i.bytes"), 256))
    ).count()
    assert bad == 0


def test_survivor_is_min_member(result):
    res, _, _ = result
    bad = res.clusters.filter(
        F.col("survivor_id") != F.array_min("member_ids")
    ).count()
    assert bad == 0


def test_permutation_invariance(spark, corpus_pdf):
    """Shuffled input order -> identical cluster partition (FIXTURES.md §5)."""
    shuffled = corpus_pdf.sample(frac=1.0, random_state=777).reset_index(drop=True)
    df = spark.createDataFrame(shuffled, schema=AUDIO_CLIPS_SCHEMA)
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_perm_"))
    res = DedupPipeline(spark, CFG, wh).run(df, with_audio=True)
    got = {
        frozenset(r["member_ids"]) for r in res.clusters.collect()
    }
    wh2 = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_perm2_"))
    df2 = spark.createDataFrame(corpus_pdf, schema=AUDIO_CLIPS_SCHEMA)
    res2 = DedupPipeline(spark, CFG, wh2).run(df2, with_audio=True)
    want = {frozenset(r["member_ids"]) for r in res2.clusters.collect()}
    assert got == want


def test_resume_idempotent(spark, corpus):
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_res_"))
    pipe = DedupPipeline(spark, CFG, wh)
    r1 = pipe.run(corpus, with_audio=True)
    want = {frozenset(r["member_ids"]) for r in r1.clusters.collect()}
    # simulate a crash after the signatures stage: later tables vanish
    for stage in ("verified_pairs", "components", "survivors", "clusters"):
        wh.drop(stage)
    r2 = pipe.run(corpus, resume=True, with_audio=True)
    got = {frozenset(r["member_ids"]) for r in r2.clusters.collect()}
    assert got == want


def test_metrics_emitted(result, corpus_pdf):
    res, _, _ = result
    stages = {m.stage for m in res.metrics}
    assert {"signatures", "exact_edges", "verified_pairs", "components"} <= stages
    assert all(m.seconds >= 0 for m in res.metrics)


def test_fused_scan_mode_parity(spark, corpus):
    """signature_scan_mode='fused' (the r5 default: one payload pass —
    digests + all fingerprints, exact dedup ranked on the narrow digest
    projection afterwards) must produce exactly the clusters and
    exact-dup edges of the dedup-first ordering (the reference's
    two-scan shape, still selectable for mega-dup corpora)."""
    from dataclasses import replace

    import tempfile

    cfg_d = replace(CFG, signature_scan_mode="dedup_first")
    wh_a = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_fuseda_"))
    res_a = DedupPipeline(spark, cfg_d, wh_a).run(corpus, with_audio=True)
    assert CFG.signature_scan_mode == "fused"  # the default under test
    wh_b = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_fusedb_"))
    res_b = DedupPipeline(spark, CFG, wh_b).run(corpus, with_audio=True)

    def comp_map(res):
        return {
            m: r["component"]
            for r in res.clusters.collect()
            for m in r["member_ids"]
        }

    assert comp_map(res_a) == comp_map(res_b)
    edges_a = {(r["id_a"], r["id_b"]) for r in
               spark.read.parquet(wh_a.base_dir + "/exact_edges").collect()}
    edges_b = {(r["id_a"], r["id_b"]) for r in
               spark.read.parquet(wh_b.base_dir + "/exact_edges").collect()}
    assert edges_a == edges_b


def test_chunked_signature_commits(spark, corpus):
    """S8 mid-stage commits wired into the pipeline: the signatures
    stage lands as independently committed chunk partitions, results
    match the unchunked run, and a rerun with two chunk commits wiped
    recomputes just those chunks and converges to the same clusters.
    Every stage's rows_out counts its table (chunks: every chunk write);
    a stage resumed from committed rows reports -1, and a full resume,
    which writes nothing, returns instead of waiting on an observation
    no action will fill."""
    import os
    import tempfile
    import threading
    from dataclasses import replace

    cfg_c = replace(CFG, signature_chunks=4)
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_chunk_"))
    res = DedupPipeline(spark, cfg_c, wh).run(corpus, with_audio=True)
    assert _written_rows(res) == {
        name: wh.load_clean(name).count() for name in COMMITTED
    }
    base = wh.base_dir + "/signatures"
    chunks = sorted(d for d in os.listdir(base) if d.startswith("chunk="))
    assert len(chunks) == 4
    assert all(os.path.exists(f"{base}/{c}/_SUCCESS") for c in chunks)

    wh2 = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_nochunk_"))
    res2 = DedupPipeline(spark, CFG, wh2).run(corpus, with_audio=True)

    def cm(r):
        return {
            m: row["component"]
            for row in r.clusters.collect()
            for m in row["member_ids"]
        }

    assert cm(res) == cm(res2)

    for c in chunks[:2]:
        os.remove(f"{base}/{c}/_SUCCESS")
    res3 = DedupPipeline(spark, cfg_c, wh).run(corpus, resume=True, with_audio=True)
    assert cm(res3) == cm(res2)
    assert _written_rows(res3) == dict.fromkeys(COMMITTED, -1)

    resumed = []
    t = threading.Thread(
        target=lambda: resumed.append(
            DedupPipeline(spark, cfg_c, wh).run(corpus, resume=True)
        ),
        daemon=True,
    )
    t.start()
    t.join(timeout=600)
    assert not t.is_alive(), "full resume did not return"
    assert cm(resumed[0]) == cm(res2)
    assert _written_rows(resumed[0]) == dict.fromkeys(COMMITTED, -1)


def test_boilerplate_mega_bucket_star_cap(spark):
    """Skew survival: a planted boilerplate family far above
    max_bucket_size must (a) not blow up the candidate join into m^2
    pairs — the star-edge cap degrades its buckets to O(m) edges and
    REPORTS it via lsh_stats — and (b) still come out as one exact
    cluster, because star edges preserve connectivity."""
    import tempfile

    import pandas as pd
    from dataclasses import replace

    from sems_event_deduplication_spark.synth import (
        AUDIO_CLIPS_SCHEMA, make_corpus_pdf,
    )

    base = make_corpus_pdf(n_base=40, seed=9)
    boiler_text = (
        "subscribe to our newsletter for the latest updates and offers "
        "terms and conditions apply all rights reserved contact support"
    )
    rows = []
    for i in range(800):
        # near-identical boilerplate rows (tiny numeric suffix keeps
        # them non-exact so they reach the LSH tier, J >> threshold)
        rows.append({
            "clip_id": f"bp{i:04d}",
            "bytes": bytes(base["bytes"].iloc[i % len(base)]),
            "sr_hz": 16000,
            "dur_ms": 1000,
            "codec": "pcm_s16le",
            # unique per-row suffix: keeps every row NON-exact (so the
            # family reaches the LSH tier rather than exact dedup) while
            # J stays ~0.95 — one mega bucket per band
            "transcript": f"{boiler_text} ref {i:04d}",
        })
    pdf = pd.concat([base, pd.DataFrame(rows)], ignore_index=True)
    df = spark.createDataFrame(pdf, schema=AUDIO_CLIPS_SCHEMA)

    cfg = replace(DedupConfig(), max_bucket_size=64)
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_skew_"))
    res = DedupPipeline(spark, cfg, wh).run(
        df, with_audio=False, checkpoint_mode="min", payload_in_survivors=False
    )
    # member_ids is capped for mega clusters (by design) — read the
    # full assignment from the components stage table instead
    comp = {
        r["clip_id"]: r["component"]
        for r in spark.read.parquet(wh.base_dir + "/components").collect()
    }
    bp_components = {comp[f"bp{i:04d}"] for i in range(800)}
    assert len(bp_components) == 1, (
        f"boilerplate family split into {len(bp_components)} components"
    )
    stats = res.lsh_stats["text"]
    assert stats["n_star_buckets"] > 0, stats
    assert stats["n_pairs_not_enumerated"] > 0, stats


def test_fused_min_mode_resume(spark, corpus):
    """The flagship bench configuration (fused scan + min checkpoint
    mode) must resume from its committed north-rule stages: a second
    run with resume=True returns identical clusters WITHOUT recomputing
    the signatures stage (commit marker mtime unchanged — at 100 TB the
    signature pass is hours; re-paying it would make resume
    meaningless)."""
    import os
    import tempfile
    import time
    from dataclasses import replace

    cfg_f = replace(CFG, signature_scan_mode="fused")
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_fresume_"))
    res1 = DedupPipeline(spark, cfg_f, wh).run(
        corpus, with_audio=True, checkpoint_mode="min"
    )

    def cm(res):
        return {
            m: r["component"]
            for r in res.clusters.collect()
            for m in r["member_ids"]
        }

    first = cm(res1)
    sig_marker = os.path.join(wh.base_dir, "signatures", "_SUCCESS")
    mtime = os.path.getmtime(sig_marker)
    time.sleep(1.1)

    res2 = DedupPipeline(spark, cfg_f, wh).run(
        corpus, resume=True, with_audio=True, checkpoint_mode="min"
    )
    assert cm(res2) == first
    assert os.path.getmtime(sig_marker) == mtime  # not recomputed


def test_degenerate_corpora(spark):
    """The full pipeline must survive an empty corpus and a singleton
    corpus (no candidates, no edges, CC over nothing) — the first
    shapes any incremental deployment actually feeds it."""
    cfg = DedupConfig()
    one = make_corpus_pdf(n_base=1, seed=1).head(1)
    df1 = spark.createDataFrame(one, schema=AUDIO_CLIPS_SCHEMA)
    r1 = DedupPipeline(spark, cfg, WarehouseIO(spark, tempfile.mkdtemp())).run(df1)
    assert r1.clusters.count() == 1 and r1.survivors.count() == 1
    df0 = spark.createDataFrame(one.head(0), schema=AUDIO_CLIPS_SCHEMA)
    r0 = DedupPipeline(spark, cfg, WarehouseIO(spark, tempfile.mkdtemp())).run(df0)
    assert r0.clusters.count() == 0 and r0.survivors.count() == 0


def test_estimated_scan_partitions_hadoop_summary(spark, tmp_path):
    """The scan-task estimate derives from one listStatus RPC per
    directory, summing EXACTLY the scan's input files (no per-file
    Python stat loop, no recursive directory totals): exact file count
    for many small files (_SUCCESS filtered out), byte-driven count for
    one big file, defaultParallelism for non-file frames — and
    crucially, non-input siblings in the same directory must NOT
    inflate the estimate (an inflated estimate silently skips the
    spread-the-payload repartition)."""
    from pyspark.sql import functions as F

    from sems_event_deduplication_spark.plans.pipeline import (
        _estimated_scan_partitions,
    )

    many = str(tmp_path / "many")
    spark.range(0, 1000).repartition(12).write.parquet(many)
    df_many = spark.read.parquet(many)
    # exactly 12 tiny files; the zero-byte _SUCCESS marker and any
    # non-input sibling must not count
    assert _estimated_scan_partitions(df_many) == 12

    big = str(tmp_path / "big")
    spark.range(0, 100_000).select(
        F.col("id"),
        F.concat(*[
            F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{i}")))
            for i in range(4)
        ]).alias("pad"),
    ).coalesce(1).write.parquet(big)
    df_big = spark.read.parquet(big)
    # one parquet file of a few MB: byte-driven estimate at a small
    # maxPartitionBytes must exceed the 2-file floor
    est_big = _estimated_scan_partitions(df_big, max_partition_bytes=1 << 20)
    assert est_big >= 3, est_big

    # sibling-inflation guard: scan ONE file out of the 12-file
    # directory — the estimate must reflect that one tiny file, not the
    # directory's recursive total
    one_file = next(
        f for f in sorted(os.listdir(many)) if f.endswith(".parquet")
    )
    df_one = spark.read.parquet(os.path.join(many, one_file))
    assert _estimated_scan_partitions(df_one) == 1

    mem = spark.range(10).toDF("id")
    assert (
        _estimated_scan_partitions(mem)
        == spark.sparkContext.defaultParallelism
    )


def test_config_validates_enums_at_construction():
    """A typo'd strategy string must fail when DedupConfig is built —
    not hours later when the offset tier (consumed only after the full
    payload scan + signatures checkpoint) first reads it."""
    with pytest.raises(ValueError, match="offset_verify_mode"):
        DedupConfig(offset_verify_mode="counts")
    with pytest.raises(ValueError, match="exact_digest_algo"):
        DedupConfig(exact_digest_algo="md5")
    with pytest.raises(ValueError, match="exact_dedup_strategy"):
        DedupConfig(exact_dedup_strategy="semi_broadcast")
    DedupConfig(offset_verify_mode="count", exact_digest_algo="sha256")


def test_g711_transcode_dups_cluster_via_audio_tier(spark):
    """p_g711 plants telephony-transcode dups: same audio re-encoded as
    G.711 (decoded by the pure-numpy tables) under an UNRELATED
    transcript — only the AUDIO tier can pair them. With the
    companding-robust fingerprint (FP_FLOOR_DB above the G.711 noise
    floor) recall on the planted transcode pairs must be >= 0.99 from
    the audio tier alone; a text-only run must miss (almost) all of
    them, proving the fixture actually requires the tier. The run
    exercises G.711 decode end-to-end and must stay oracle-exact over
    the whole mixed corpus."""
    from sems_event_deduplication_spark.synth import make_corpus_dist

    clips = make_corpus_dist(
        spark, n_base=120, seed=7, dur_lo=0.4, dur_hi=0.9, p_g711=0.6
    ).localCheckpoint()
    pdf = clips.toPandas()
    g711 = pdf[pdf["codec"].isin(["pcm_mulaw", "pcm_alaw"])]
    assert len(g711) >= 20, "fixture planted too few G.711 dups"
    assert set(g711["clip_id"].str.endswith("_g711")) == {True}

    def recovered(with_audio):
        wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_g711_"))
        res = DedupPipeline(spark, DedupConfig(), wh).run(
            clips, with_audio=with_audio
        )
        pred = {
            m: r["component"]
            for r in res.clusters.collect()
            for m in r["member_ids"]
        }
        hits = sum(
            pred[cid] == pred[cid.replace("_g711", "_base")]
            for cid in g711["clip_id"]
        )
        return pred, hits

    pred, hits = recovered(with_audio=True)
    assert hits / len(g711) >= 0.99, (hits, len(g711))
    # honesty: the unrelated transcripts keep the text tier out of it
    _, text_hits = recovered(with_audio=False)
    assert text_hits < len(g711) / 2, (text_hits, len(g711))
    # and the whole mixed corpus stays oracle-exact
    oracle = oracle_components(pdf, DedupConfig(), with_audio=True)
    op, pp = intra_pairs(oracle), intra_pairs(pred)
    assert op and len(op & pp) / len(op) >= 0.99
    assert len(op & pp) / len(pp) >= 0.90


def test_offset_dups_recovered_via_landmark_tier(spark):
    """synth p_offset > 0 plants embedded clips (base audio inside a
    longer host, unrelated transcript + pads) that ONLY the landmark
    offset tier can tie back to the base; with the tier on, every
    planted offset pair must land in one component, and with the tier
    off the text/SimHash tiers alone must miss most of them (the
    fixture is honest — it actually requires the tier)."""
    from sems_event_deduplication_spark.synth import make_corpus_dist

    clips = make_corpus_dist(
        spark, n_base=48, seed=11, dur_lo=1.0, dur_hi=2.0, p_offset=0.5
    ).localCheckpoint()
    planted = {
        r["g"]
        for r in clips.filter(F.col("clip_id").endswith("_offset"))
        .select(F.substring_index("clip_id", "_", 1).alias("g"))
        .collect()
    }
    assert len(planted) >= 5, "fixture planted too few offset dups"

    def recovered(with_offset):
        cfg = DedupConfig(
            signature_scan_mode="fused", with_offset_audio=with_offset
        )
        wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_offs_"))
        DedupPipeline(spark, cfg, wh).run(
            clips, with_audio=True, checkpoint_mode="min",
            payload_in_survivors=False,
        )
        comp = wh.load_clean("components").select("clip_id", "component")
        gidc = F.substring_index("clip_id", "_", 1)
        offs = comp.filter(F.col("clip_id").endswith("_offset")).select(
            gidc.alias("g"), F.col("component").alias("c_off")
        )
        bases = comp.filter(F.col("clip_id").endswith("_base")).select(
            gidc.alias("g"), F.col("component").alias("c_base")
        )
        return {
            r["g"]
            for r in offs.join(bases, "g")
            .filter(F.col("c_off") == F.col("c_base"))
            .collect()
        }

    assert recovered(with_offset=True) == planted
    assert len(recovered(with_offset=False)) < len(planted) / 2


# ---- fused verify: equivalence with the per-tier formula -----------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "dz", "qu", "xo"]


def _words(rng, n: int) -> str:
    return " ".join(
        "".join(rng.choice(_SYLLABLES, size=int(rng.integers(2, 5))))
        for _ in range(n)
    )


def _tier_corpus():
    """Background corpus (its nearaud rows are audio-only dups) plus
    crafted rows, each on its own unrelated audio unless stated: text
    near dups close to the 0.8 threshold, transcripts contained in a
    longer one at J < 0.8, near-dup transcripts on a noisy copy of the
    same audio (text + audio), and a 12-member boilerplate family over
    a star cap of 8 whose bucket minimum ``bp00`` is contained in
    every other member."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(2024)
    background = make_corpus_pdf(n_base=60, seed=3)
    pool = make_corpus_pdf(n_base=160, seed=7)
    bases = pool[pool["clip_id"].str.endswith("_base")].set_index("group_id")
    nearaud = pool[pool["clip_id"].str.endswith("_nearaud")].set_index("group_id")
    unique = iter(bases.drop(index=nearaud.index).itertuples())
    rows = []

    def add(cid, text, audio):
        rows.append({
            "clip_id": cid, "bytes": audio.bytes, "sr_hz": audio.sr_hz,
            "dur_ms": audio.dur_ms, "codec": audio.codec, "transcript": text,
            "event_date": audio.event_date, "group_id": "fixture",
        })

    for i in range(8):
        t = _words(rng, 18)
        add(f"tx{i}a", t, next(unique))
        add(f"tx{i}b", t + " " + _words(rng, 3), next(unique))
    for i in range(8):
        t = _words(rng, 14)
        add(f"ct{i}a", t, next(unique))
        add(f"ct{i}b", t + " " + _words(rng, 3), next(unique))
    for i, g in enumerate(nearaud.index[:2]):
        t = _words(rng, 18)
        add(f"ta{i}a", t, bases.loc[g])
        add(f"ta{i}b", t + " " + _words(rng, 1), nearaud.loc[g])
    boiler = _words(rng, 16)
    add("bp00", boiler, next(unique))
    for i in range(1, 12):
        add(f"bp{i:02d}", f"{boiler} ref {i:02d}", next(unique))
    return pd.concat([background, pd.DataFrame(rows)], ignore_index=True)


def _reference_verified(wh, cfg, with_offset: bool):
    """The per-tier formula the fused pass replaced: each tier's public
    function over its own candidates, unioned and grouped per pair.
    Reads the run's committed signatures and exact edges."""
    from sems_event_deduplication_spark.operators import lsh, verify
    from sems_event_deduplication_spark.operators.audio_segments import (
        audio_offset_pairs_from_sigs,
    )
    from sems_event_deduplication_spark.operators.exact_dedup import (
        kept_from_edges,
    )

    sigs = kept_from_edges(
        wh.load_clean("signatures"), wh.load_clean("exact_edges"), "clip_id",
        cfg.exact_dedup_strategy, cfg.exact_dedup_max_broadcast_ids,
    )
    text_b = lsh.explode_bands(sigs, "clip_id", "bands")
    audio_b = lsh.explode_bands(sigs, "clip_id", "audio_bands")
    cap = cfg.max_bucket_size
    null = F.lit(None).cast("double")
    tiers = [
        verify.verify_jaccard(
            lsh.candidate_pairs(text_b, cap), sigs, cfg.num_perm,
            cfg.jaccard_threshold, cfg.est_margin, shingles_col="shingle_hashes",
        ).select("id_a", "id_b", "jaccard", F.lit("text").alias("kind")),
        verify.containment_pairs(
            text_b, sigs, cap, n_bands=cfg.containment_bands
        ).select(
            "id_a", "id_b", F.lit(1.0).alias("jaccard"),
            F.lit("containment").alias("kind"),
        ),
        verify.verify_hamming(
            lsh.candidate_pairs(audio_b, cap), sigs, cfg.hamming_threshold
        ).select("id_a", "id_b", null.alias("jaccard"), F.lit("audio").alias("kind")),
    ]
    if with_offset:
        tiers.append(
            audio_offset_pairs_from_sigs(
                sigs, cfg, cfg.landmark_containment, cfg.landmark_min_shared,
                verify_mode=cfg.offset_verify_mode,
            ).select(
                "id_a", "id_b", null.alias("jaccard"),
                F.lit("audio_offset").alias("kind"),
            )
        )
    union = tiers[0]
    for t in tiers[1:]:
        union = union.unionByName(t)
    ref = union.groupBy("id_a", "id_b").agg(
        F.max("jaccard").alias("jaccard"),
        F.sort_array(F.collect_set("kind")).alias("kinds"),
    )
    return ref, sigs, text_b


def _pair_rows(df):
    return sorted(
        (r["id_a"], r["id_b"], r["jaccard"], tuple(r["kinds"])) for r in df.collect()
    )


class _RecordingWarehouse(WarehouseIO):
    """Keeps every frame ``checkpoint`` returns, by stage name."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.returned: dict = {}

    def checkpoint(self, df, name, resume=False):
        out = super().checkpoint(df, name, resume=resume)
        self.returned[name] = out
        return out


@pytest.fixture(scope="module")
def offset_run(spark):
    """A with_offset_audio run; every committed stage goes through
    ``WarehouseIO.checkpoint``."""
    from sems_event_deduplication_spark.synth import make_corpus_dist

    clips = make_corpus_dist(
        spark, n_base=24, seed=11, dur_lo=1.0, dur_hi=2.0, p_offset=0.5
    ).localCheckpoint()
    cfg = DedupConfig(with_offset_audio=True)
    wh = _RecordingWarehouse(spark, tempfile.mkdtemp(prefix="wh_fused_offs_"))
    res = DedupPipeline(spark, cfg, wh).run(
        clips, with_audio=True, payload_in_survivors=False
    )
    return res, wh, cfg


def test_fused_verify_equals_per_tier_union(spark):
    """The pipeline's one verify pass commits exactly the rows of the
    per-tier formula. The fixture (est_margin 0 and a star cap of 8 so
    both guards matter) is checked to hold every case: text-only,
    containment-only below the Jaccard threshold, audio-only and
    two-tier pairs, star buckets whose edges join contained texts
    (containment must skip them), and a pair the estimate prefilter
    drops although its exact Jaccard clears the threshold."""
    from dataclasses import replace

    from sems_event_deduplication_spark.functions.minhash import (
        estimated_jaccard, exact_jaccard,
    )
    from sems_event_deduplication_spark.operators import lsh, verify

    cfg = replace(CFG, est_margin=0.0, max_bucket_size=8)
    df = spark.createDataFrame(_tier_corpus(), schema=AUDIO_CLIPS_SCHEMA)
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_fused_"))
    res = DedupPipeline(spark, cfg, wh).run(
        df, with_audio=True, checkpoint_mode="min", payload_in_survivors=False
    )
    ref, sigs, text_b = _reference_verified(wh, cfg, with_offset=False)
    want = _pair_rows(ref)
    assert _pair_rows(res.verified_pairs) == want

    kinds = {w[3] for w in want}
    assert {("text",), ("audio",), ("containment",)} <= kinds, kinds
    assert any(len(k) > 1 for k in kinds), kinds
    texts = dict(sigs.select("clip_id", "transcript_norm").collect())
    assert any(
        w[3] == ("containment",) and w[2] == 1.0
        and texts[w[0]] in texts[w[1]] for w in want
    )
    assert res.lsh_stats["text"]["n_star_buckets"] > 0
    stars = verify.attach_pair_sides(
        lsh.bucket_pairs(lsh.size_buckets(text_b), cfg.max_bucket_size).filter(
            ~F.col("small") & (F.col("band_id") < cfg.containment_bands)
        ),
        sigs.select("clip_id", F.col("transcript_norm").alias("t")), ["t"],
    ).filter(verify.containment_rule(F.col("t_a"), F.col("t_b")))
    contained = {(w[0], w[1]) for w in want if "containment" in w[3]}
    assert {(r["id_a"], r["id_b"]) for r in stars.collect()} - contained
    sides = verify.attach_pair_sides(
        lsh.candidate_pairs(text_b, cfg.max_bucket_size),
        sigs, ["minhash_sig", "shingle_hashes"],
    )
    a, b = F.col("minhash_sig_a"), F.col("minhash_sig_b")
    sa, sb = F.col("shingle_hashes_a"), F.col("shingle_hashes_b")
    prefiltered = {
        (r["id_a"], r["id_b"])
        for r in sides.filter(
            (estimated_jaccard(a, b, cfg.num_perm)
             < cfg.jaccard_threshold - cfg.est_margin)
            & (exact_jaccard(sa, sb) >= cfg.jaccard_threshold)
        ).collect()
    }
    assert prefiltered
    assert not {(w[0], w[1]) for w in want if "text" in w[3]} & prefiltered


def _grouped_bucket_stats(banded, cap: int) -> dict:
    """``lsh.bucket_stats`` as it was defined before it became one
    ungrouped aggregate: bucket sizes from a per-bucket groupBy."""
    n = F.col("n")
    over = n > cap
    row = banded.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    ).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(over, 1).otherwise(0)).alias("n_star_buckets"),
        F.sum(F.when(over, n).otherwise(0)).alias("n_star_members"),
        F.sum(F.when(over, (n * (n - 1)) / 2 - (n - 1)).otherwise(0))
        .cast("long").alias("n_pairs_not_enumerated"),
    ).collect()[0]
    return {k: int(v or 0) for k, v in row.asDict().items()}


def test_lsh_stats_equal_grouped_definition(spark):
    """The pipeline's inline bucket stats equal the per-bucket groupBy
    definition for every modality, over the run's own keeper bands
    (committed signatures minus the exact-dedup drops): with the offset
    tier on, a star cap small enough to degrade text buckets, and again
    on a resumed run that loads every stage."""
    from dataclasses import replace

    from sems_event_deduplication_spark.operators import lsh
    from sems_event_deduplication_spark.operators.audio_segments import (
        landmark_inverted_index,
    )

    cfg = replace(CFG, with_offset_audio=True, max_bucket_size=8)
    df = spark.createDataFrame(_tier_corpus(), schema=AUDIO_CLIPS_SCHEMA)
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_stats_"))
    pipe = DedupPipeline(spark, cfg, wh)
    first = pipe.run(df, payload_in_survivors=False)
    keepers = wh.load_clean("signatures").join(
        wh.load_clean("exact_edges").select(F.col("id_b").alias("clip_id")),
        "clip_id", "left_anti",
    )
    want = {
        kind: _grouped_bucket_stats(banded, cfg.max_bucket_size)
        for kind, banded in (
            ("text", lsh.explode_bands(keepers, "clip_id", "bands")),
            ("audio", lsh.explode_bands(keepers, "clip_id", "audio_bands")),
            ("landmarks", landmark_inverted_index(keepers)),
        )
    }
    assert want["text"]["n_star_buckets"] > 0, want
    resumed = pipe.run(df, resume=True, payload_in_survivors=False)
    assert _written_rows(resumed) == dict.fromkeys(COMMITTED, -1)
    for res in (first, resumed):
        assert {k: v for k, v in res.lsh_stats.items() if k != "cc"} == want


def test_fused_verify_folds_offset_tier(offset_run):
    """With the landmark offset tier on, its pairs join the same flags
    aggregation: the committed rows equal the per-tier formula with
    'audio_offset' in ``kinds``."""
    res, wh, cfg = offset_run
    ref, _, _ = _reference_verified(wh, cfg, with_offset=True)
    want = _pair_rows(ref)
    assert any("audio_offset" in w[3] for w in want)
    assert _pair_rows(res.verified_pairs) == want


def test_checkpoint_schema_equals_load_clean(offset_run):
    """Every committed stage reads back with the schema written, which
    is the schema an inferring ``load_clean`` sees."""
    _, wh, _ = offset_run
    assert {"verified_pairs", "signatures", "clusters"} <= set(wh.returned)
    for name, df in wh.returned.items():
        assert df.schema == wh.load_clean(name).schema, name


def test_min_mode_job_budget(spark, corpus, count_jobs):
    """A run with no mode argument (the one checkpoint layout) stays on
    its job floor: one verify pass, schema-supplied checkpoint
    read-backs, an exact-dedup gate fed by the exact_edges write's row
    count and one ungrouped bucket-stats aggregate keep a run of the
    test corpus at 21 Spark jobs (38 with a verify pass per tier and an
    inferring read-back per stage, 24 with a gate count job and a
    grouped stats collect). The dedup_first scan mode runs the same
    stages in the other order at 20 jobs. Each committed stage's
    rows_out, read from an Observation on its write rather than a count
    job, equals its table's rows."""
    corpus.count()  # the cached corpus materializes outside the count
    for mode, budget in (("fused", 21), ("dedup_first", 20)):
        cfg = DedupConfig(signature_scan_mode=mode)
        wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_jobs_"))
        runs = []
        n = count_jobs(lambda: runs.append(
            DedupPipeline(spark, cfg, wh).run(corpus, with_audio=True)
        ))
        assert n <= budget, (mode, n)
        rows = _written_rows(runs[0])
        assert rows == {name: wh.load_clean(name).count() for name in COMMITTED}
        assert min(rows.values()) > 0, (mode, rows)


def test_warm_rerun_compiles_no_classes(spark, corpus, codegen_compiled):
    """The codegen cache holds a run's generated classes, so a second
    default run of the same corpus (fresh warehouse) compiles none, and
    the run reports that count. With Spark's default cache of 100
    classes each run evicted its own ~128 and the rerun recompiled
    98-119 of them."""
    def run():
        wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_codegen_"))
        return DedupPipeline(spark, CFG, wh).run(corpus)

    run()
    before = codegen_compiled()
    res = run()
    assert codegen_compiled() - before == 0
    assert res.codegen_classes_compiled == 0
    assert res.metrics_dict()["codegen"] == {"classes_compiled": 0}


def test_checkpoint_mode_all_rejected(spark, corpus):
    """The staged layout is gone; asking for it fails loudly."""
    pipe = DedupPipeline(spark, CFG, WarehouseIO(spark, tempfile.mkdtemp()))
    with pytest.raises(ValueError, match="'all'"):
        pipe.run(corpus, checkpoint_mode="all")
