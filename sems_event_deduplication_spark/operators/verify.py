"""Pairwise verification of LSH candidates (SURVEY.md G2 decomposition).

Three verify tiers, cheapest first:

1. **Signature estimate** — fraction of agreeing MinHash slots, computed
   from the already-joined signature arrays (no extra shuffle). Pairs
   far below threshold are dropped before exact work.
2. **Exact Jaccard** — ``array_intersect`` on the distinct-shingle
   arrays, native exprs (J3). The reference's verify analogue is
   all-pairs cosine >= t inside ``community_detection``
   (``cluster_news.py:36-38``).
3. **Substring containment** — native ``contains`` over every pair
   inside each small LSH bucket of the first few bands: catches
   short-transcript-contained-in-long dups that Jaccard misses. No
   Python worker pass; the bucket cap (max_bucket_size) bounds the
   pairs per bucket.

Audio tier: Hamming distance on SimHash via native ``bit_count(a^b)``.

Shuffle notes: candidates join the (id -> signature/shingles) table
twice (for a/b sides). The signature table is projected to exactly the
needed columns first so the payload (``bytes``) never moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.minhash import estimated_jaccard, exact_jaccard
from . import lsh


def attach_pair_sides(
    pairs: DataFrame,
    sides: DataFrame,
    cols: list[str],
    id_col: str = "clip_id",
    sides_b: DataFrame | None = None,
) -> DataFrame:
    """pairs(id_a, id_b) x sides(id, cols...) -> pairs + cols_a + cols_b.

    ``sides_b``: a distinct lookup table for the b side — the
    cross-table shape (e.g. batch-vs-index verification, where the same
    clip_id may exist in BOTH tables with different signatures and each
    role must resolve against its own version)."""
    a = sides.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    b = (sides_b if sides_b is not None else sides).select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    )
    return pairs.join(a, "id_a").join(b, "id_b")


def verify_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    num_perm: int,
    jaccard_threshold: float,
    est_margin: float = 0.25,
    id_col: str = "clip_id",
    sig_col: str = "minhash_sig",
    shingles_col: str = "shingles",
    docs_b: DataFrame | None = None,
) -> DataFrame:
    """Candidates -> verified text pairs with exact Jaccard >= t.

    Two-tier: signature-estimate prefilter (>= t - margin), then exact
    Jaccard on shingle arrays. Returns (id_a, id_b, jaccard).

    ``docs_b``: separate lookup table for the b side (cross-table
    verification — each role resolves against its own version even when
    an id exists in both tables).
    """
    sides = docs.select(id_col, sig_col, shingles_col)
    sides_b = (
        docs_b.select(id_col, sig_col, shingles_col)
        if docs_b is not None
        else None
    )
    joined = attach_pair_sides(
        pairs, sides, [sig_col, shingles_col], id_col, sides_b=sides_b
    )
    est = estimated_jaccard(F.col(f"{sig_col}_a"), F.col(f"{sig_col}_b"), num_perm)
    prefiltered = joined.withColumn("__est", est).filter(
        F.col("__est") >= F.lit(max(0.0, jaccard_threshold - est_margin))
    )
    exact = exact_jaccard(F.col(f"{shingles_col}_a"), F.col(f"{shingles_col}_b"))
    return (
        prefiltered.withColumn("jaccard", exact)
        .filter(F.col("jaccard") >= F.lit(jaccard_threshold))
        .select("id_a", "id_b", "jaccard")
    )


def verify_hamming(
    pairs: DataFrame,
    docs: DataFrame,
    hamming_threshold: int,
    id_col: str = "clip_id",
    sim_col: str = "audio_simhash",
) -> DataFrame:
    """Audio candidates -> pairs with SimHash Hamming distance <= h."""
    from ..functions.audio import hamming_distance

    sides = docs.select(id_col, sim_col)
    joined = attach_pair_sides(pairs, sides, [sim_col], id_col)
    dist = hamming_distance(F.col(f"{sim_col}_a"), F.col(f"{sim_col}_b"))
    return (
        joined.withColumn("hamming", dist)
        .filter(F.col("hamming") <= F.lit(hamming_threshold))
        .select("id_a", "id_b", "hamming")
    )


def containment_pairs(
    banded: DataFrame,
    docs: DataFrame,
    max_bucket_size: int,
    id_col: str = "clip_id",
    text_col: str = "transcript_norm",
    n_bands: int = 2,
) -> DataFrame:
    """Substring containment verify over small LSH buckets, all native.

    Input ``banded`` = (clip_id, band_id, band_hash), raw or already
    ``lsh.size_buckets``-ed (a persisted sized frame is reused as-is).
    Only the first ``n_bands`` bands are scanned: near-identical docs
    collide on (almost) every band, so scanning all bands re-finds the
    same pairs b times. Buckets of one member or above
    ``max_bucket_size`` are sliced off BEFORE pair expansion and the
    text join, so boilerplate mega-buckets never ship transcripts.
    Every pair inside each remaining bucket (``lsh.candidate_pairs``
    on the slice: once per pair, no star edges) is kept iff one
    non-empty text is a substring of the other. Returns distinct
    (id_a, id_b, contained=1) with id_a < id_b.

    Worst case: ``contains`` is ``UTF8String.contains``, O(|a|·|b|)
    per pair, and a capped bucket holds at most m·(m-1)/2 pairs —
    32,640 at the default ``max_bucket_size`` of 256.
    """
    scanned = banded.filter(F.col("band_id") < n_bands)
    if "__bucket_n" not in scanned.columns:
        scanned = lsh.size_buckets(scanned)
    small = scanned.filter(
        (F.col("__bucket_n") > 1) & (F.col("__bucket_n") <= max_bucket_size)
    )
    pairs = lsh.candidate_pairs(small, max_bucket_size)
    sides = docs.select(id_col, F.col(text_col).alias("text"))
    a, b = F.col("text_a"), F.col("text_b")
    return (
        attach_pair_sides(pairs, sides, ["text"], id_col)
        .filter(
            ((F.length(a) > 0) & b.contains(a)) | ((F.length(b) > 0) & a.contains(b))
        )
        .select("id_a", "id_b", F.lit(1).alias("contained"))
    )
