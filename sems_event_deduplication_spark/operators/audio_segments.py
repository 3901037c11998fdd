"""Offset/containment audio dedup: per-frame sub-fingerprint sets.

The clip-level SimHash (functions/audio.py) decides "same recording,
possibly re-encoded or noisy". It cannot see a clip *embedded* inside a
longer one — the audio analogue of the text containment tier
(SURVEY.md §2.9 G2, the suffix-array path). This operator closes that
gap by treating each clip's set of spectral-peak landmark hashes
(Wang's Shazam constellation, ISMIR'03 — offset-invariant by
construction) as "audio shingles" and reusing the exact text machinery:

    landmark set --explode--> inverted index (landmark -> clip)
              --bucket-capped equi-self-join--> candidates with
                n_shared landmark votes (Shazam's index lookup as a
                join; MinHash-LSH would be wrong here — containment
                pairs have LOW Jaccard by construction, small set vs
                big set, which is exactly what band-LSH filters out)
              --overlap verify--> (id_a, id_b, containment)

containment = |A ∩ B| / min(|A|, |B|): 1.0 when the shorter clip's
frames all occur in the longer one (the reference's max-denominator
entity overlap at ``create_silver_label.py:424-430`` is the same shape;
min-denominator is the containment-oriented variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..conf import DedupConfig
from ..functions.audio import make_audio_sig_landmark_udf
from . import lsh


def audio_segment_signatures(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(clip_id, bytes, codec) -> (clip_id, landmarks), from the same
    one-pass UDF and landmark hop (``fft_hop // 2``) as the pipeline's
    signature stage."""
    asl = make_audio_sig_landmark_udf(
        cfg.fft_frame, cfg.fft_hop, cfg.n_mel_bands, cfg.simhash_bits,
        cfg.seed, cfg.fft_hop // 2, floor_db=cfg.fp_floor_db,
    )
    return clips.select(
        "clip_id",
        asl(F.col("bytes"), F.col("codec")).getField("landmarks").alias("landmarks"),
    )


def verify_segment_overlap(
    pairs: DataFrame,
    sigs: DataFrame,
    containment_threshold: float,
    mode: str = "exact",
) -> DataFrame:
    """Candidates -> (id_a, id_b, containment >= t), min-size
    denominator (containment, not Jaccard — a 5 s clip inside a 60 s
    host has tiny Jaccard but containment ~1). ``mode`` picks only the
    side column and the numerator:

    - ``"exact"``: the ``array_intersect`` size of the two ``landmarks``
      arrays — exact even where shared landmarks hit the star cap, but
      both arrays (~10³-10⁴ int64 each, the largest column after the
      payload) ride the pair join.
    - ``"count"``: the scale form — the candidate join's own
      co-occurrence count ``n_shared_bands`` over a narrow per-clip
      ``n_lm``; no array leaves the signature table. Landmarks are
      DISTINCT per clip (``np.unique`` in ``landmarks_from_mag``) and
      the inverted index maps each to its holders once, so where every
      shared landmark sits in an uncapped bucket the count IS
      ``|A ∩ B|`` (bit-identical, property-tested). Star-capped
      buckets are not enumerated, so there the count is a LOWER bound:
      it can only suppress pairs (surfaced by the landmark stats'
      ``n_pairs_not_enumerated``), never admit wrong ones.
    """
    from .verify import attach_pair_sides

    if mode == "exact":
        side, sides = "landmarks", sigs.select("clip_id", "landmarks")
        inter = F.size(F.array_intersect(F.col("landmarks_a"), F.col("landmarks_b")))
        denom = F.least(F.size("landmarks_a"), F.size("landmarks_b"))
    elif mode == "count":
        side, sides = "n_lm", sigs.select("clip_id", F.size("landmarks").alias("n_lm"))
        pairs = pairs.select("id_a", "id_b", "n_shared_bands")
        inter, denom = F.col("n_shared_bands"), F.least("n_lm_a", "n_lm_b")
    else:
        raise ValueError(f"unknown offset verify_mode: {mode!r}")
    joined = attach_pair_sides(pairs, sides, [side])
    return (
        joined.withColumn(
            "containment",
            F.when(denom > 0, inter / denom).otherwise(F.lit(0.0)),
        )
        .filter(F.col("containment") >= F.lit(containment_threshold))
        .select("id_a", "id_b", "containment")
    )


def landmark_inverted_index(sigs: DataFrame) -> DataFrame:
    """(clip_id, landmarks) -> the (landmark -> clip) inverted index in
    the banded shape lsh.candidate_pairs consumes."""
    return sigs.select(
        "clip_id", F.lit(0).alias("band_id"),
        F.explode("landmarks").alias("band_hash"),
    )


def audio_offset_pairs_from_sigs(
    sigs: DataFrame,
    cfg: DedupConfig,
    containment_threshold: float = 0.8,
    min_shared_landmarks: int = 4,
    sized_inverted: DataFrame | None = None,
    verify_mode: str = "exact",
) -> DataFrame:
    """Offset-audio dup pairs from an existing ``(clip_id, landmarks)``
    table (e.g. the pipeline's checkpointed signatures stage, which
    computes landmarks in the SAME payload pass as the SimHash — the
    offset tier then never re-reads the 100 TB payload).

    Candidates come from the landmark inverted index: explode the
    landmark sets to (landmark -> clip_id) and reuse the bucket-capped
    LSH self-join (a landmark shared by more than max_bucket_size
    clips is a stop-landmark: its bucket degrades to star edges, and
    such pairs only survive if rarer landmarks also vote). Pairs need
    ``min_shared_landmarks`` co-occurrences before the exact-overlap
    verify — single-landmark collisions are noise.

    ``sized_inverted``: pass a (persisted) ``lsh.size_buckets(
    landmark_inverted_index(sigs))`` frame to share the index exchange
    with a ``lsh.bucket_stats`` observability pass (the pipeline does;
    stop-landmark recall loss must be visible, not inferred).

    ``verify_mode`` is ``verify_segment_overlap``'s ``mode``:
    ``"exact"`` (default) or ``"count"``, the scale form.
    """
    inverted = (
        sized_inverted
        if sized_inverted is not None
        else landmark_inverted_index(sigs)
    )
    cands = lsh.candidate_pairs(inverted, cfg.max_bucket_size).filter(
        F.col("n_shared_bands") >= min_shared_landmarks
    )
    return verify_segment_overlap(cands, sigs, containment_threshold, verify_mode)


def audio_offset_pairs(
    clips: DataFrame,
    cfg: DedupConfig,
    containment_threshold: float = 0.8,
    min_shared_landmarks: int = 4,
) -> DataFrame:
    """End-to-end offset-audio dup pairs over a raw audio_clips table.

    Standalone entry point: computes landmark signatures itself (one
    payload pass), caches them for the index + verify consumers, and
    materializes the (small) verified-pair set before releasing the
    cache — without that the persist outlived the call and leaked
    executor storage. Pipelines that already computed landmarks in the
    signature stage should call ``audio_offset_pairs_from_sigs``.
    """
    sigs = audio_segment_signatures(clips, cfg).persist()
    try:
        return audio_offset_pairs_from_sigs(
            sigs, cfg, containment_threshold, min_shared_landmarks
        ).localCheckpoint()
    finally:
        sigs.unpersist()
