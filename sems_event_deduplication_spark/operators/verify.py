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

Each tier's test is one Column predicate (``jaccard_rule``,
``containment_rule``, ``hamming_rule``) shared by the per-tier
functions and the pipeline's fused pass (``tier_flags`` +
``verify_flagged``).

Shuffle notes: candidates join the (id -> signature/shingles) table
twice (for a/b sides). The signature table is projected to exactly the
needed columns first so the payload (``bytes``) never moves. The fused
pass attaches the sides ONCE for all tiers — one pair of joins carrying
every tier's columns instead of a pair per tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..conf import DedupConfig
from ..functions.audio import hamming_distance
from ..functions.minhash import estimated_jaccard, exact_jaccard
from . import lsh


def jaccard_rule(
    sig_a: Column, sig_b: Column, shingles_a: Column, shingles_b: Column,
    num_perm: int, jaccard_threshold: float, est_margin: float,
) -> Column:
    """The text tier's test: the signature estimate clears
    ``t - margin`` and, only then (``AND`` short-circuits), the exact
    shingle Jaccard clears ``t``."""
    est = estimated_jaccard(sig_a, sig_b, num_perm)
    return (est >= F.lit(max(0.0, jaccard_threshold - est_margin))) & (
        exact_jaccard(shingles_a, shingles_b) >= F.lit(jaccard_threshold)
    )


def containment_rule(text_a: Column, text_b: Column) -> Column:
    """The containment tier's test: one non-empty text is a substring
    of the other."""
    return ((F.length(text_a) > 0) & text_b.contains(text_a)) | (
        (F.length(text_b) > 0) & text_a.contains(text_b)
    )


def hamming_rule(sim_a: Column, sim_b: Column, hamming_threshold: int) -> Column:
    """The audio tier's test: SimHash Hamming distance <= h."""
    return hamming_distance(sim_a, sim_b) <= F.lit(hamming_threshold)


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
    sig_a, sig_b = F.col(f"{sig_col}_a"), F.col(f"{sig_col}_b")
    sh_a, sh_b = F.col(f"{shingles_col}_a"), F.col(f"{shingles_col}_b")
    return joined.filter(
        jaccard_rule(
            sig_a, sig_b, sh_a, sh_b, num_perm, jaccard_threshold, est_margin
        )
    ).select("id_a", "id_b", exact_jaccard(sh_a, sh_b).alias("jaccard"))


def verify_hamming(
    pairs: DataFrame,
    docs: DataFrame,
    hamming_threshold: int,
    id_col: str = "clip_id",
    sim_col: str = "audio_simhash",
) -> DataFrame:
    """Audio candidates -> pairs with SimHash Hamming distance <= h."""
    sides = docs.select(id_col, sim_col)
    joined = attach_pair_sides(pairs, sides, [sim_col], id_col)
    sim_a, sim_b = F.col(f"{sim_col}_a"), F.col(f"{sim_col}_b")
    return joined.filter(hamming_rule(sim_a, sim_b, hamming_threshold)).select(
        "id_a", "id_b", hamming_distance(sim_a, sim_b).alias("hamming")
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
    return (
        attach_pair_sides(pairs, sides, ["text"], id_col)
        .filter(containment_rule(F.col("text_a"), F.col("text_b")))
        .select("id_a", "id_b", F.lit(1).alias("contained"))
    )


def tier_flags(
    pair_rows: DataFrame,
    text_bands: int,
    containment_bands: int,
    with_audio: bool = True,
    pre_verified: DataFrame | None = None,
) -> DataFrame:
    """``lsh.bucket_pairs`` rows over the shared text + audio band frame
    (``band_id < text_bands`` is text, the rest audio) -> one row per
    distinct (id_a, id_b) with a boolean per tier that must test it:

    - ``text``: the pair shares any text bucket (small or star edge);
    - ``containment``: it shares a SMALL bucket among the first
      ``containment_bands`` text bands (the ``containment_pairs``
      slice: star edges never ship transcripts);
    - ``audio`` (``with_audio``): it shares any audio bucket;
    - ``audio_offset`` (given ``pre_verified``, pairs another tier
      already verified): set on those rows, which need no test here.

    One groupBy for every tier, so the pairs are aggregated once and
    no union + groupBy merges per-tier verdicts afterwards.
    """
    band = F.col("band_id")
    flags = {
        "text": band < text_bands,
        "containment": F.col("small")
        & (band < min(containment_bands, text_bands)),
    }
    if with_audio:
        flags["audio"] = band >= text_bands
    rows = pair_rows.select(
        "id_a", "id_b", *[c.alias(k) for k, c in flags.items()]
    )
    if pre_verified is not None:
        rows = rows.withColumn("audio_offset", F.lit(False)).unionByName(
            pre_verified.select(
                "id_a", "id_b", *[F.lit(False).alias(k) for k in flags],
                F.lit(True).alias("audio_offset"),
            )
        )
    return rows.groupBy("id_a", "id_b").agg(
        *[F.bool_or(k).alias(k) for k in rows.columns[2:]]
    )


def verify_flagged(
    flagged: DataFrame, docs: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """``tier_flags`` pairs -> verified (id_a, id_b, jaccard, kinds).

    The sides every tier reads (MinHash signature, shingle hashes,
    normalized transcript, SimHash) are attached ONCE, and each tier's
    rule is evaluated only where its flag is set (``when``-guarded, so
    the exact Jaccard still runs only behind the estimate prefilter).
    ``kinds`` is the sorted names of the tiers that passed, ``jaccard``
    the exact text Jaccard, raised to 1.0 for a containment pair (null
    for audio-only pairs); pairs no tier passes are dropped. Same rows
    as each tier's own function unioned and grouped per pair.
    """
    tiers = sorted(c for c in flagged.columns if c not in ("id_a", "id_b"))
    cols = ["minhash_sig", "shingle_hashes", "transcript_norm"]
    if "audio" in tiers:
        cols.append("audio_simhash")
    joined = attach_pair_sides(flagged, docs.select("clip_id", *cols), cols)

    def a(c: str) -> Column:
        return F.col(f"{c}_a")

    def b(c: str) -> Column:
        return F.col(f"{c}_b")

    rules = {
        "text": jaccard_rule(
            a("minhash_sig"), b("minhash_sig"),
            a("shingle_hashes"), b("shingle_hashes"),
            cfg.num_perm, cfg.jaccard_threshold, cfg.est_margin,
        ),
        "containment": containment_rule(a("transcript_norm"), b("transcript_norm")),
        "audio": hamming_rule(
            a("audio_simhash"), b("audio_simhash"), cfg.hamming_threshold
        ),
        "audio_offset": F.lit(True),
    }
    passed = {k: F.when(F.col(k), rules[k]) for k in tiers}
    kinds = F.filter(
        F.array(*[F.when(passed[k], F.lit(k)) for k in tiers]),
        lambda k: k.isNotNull(),
    )
    jaccard = F.greatest(
        F.when(
            passed["text"], exact_jaccard(a("shingle_hashes"), b("shingle_hashes"))
        ),
        F.when(passed["containment"], F.lit(1.0)),
    )
    return joined.select(
        "id_a", "id_b", jaccard.alias("jaccard"), kinds.alias("kinds")
    ).filter(F.size("kinds") > 0)
