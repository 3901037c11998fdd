"""LSH band-bucket candidate generation (SURVEY.md §2.4 J1).

Replaces the reference's O(n²) all-pairs loop
(``create_silver_label.py:351-355`` — ``combinations(cluster_id, 2)``)
with an equi-self-join on ``(band_id, band_hash)``.

Scale design (the part that must survive 10¹² rows):

- Signatures are exploded to ``(clip_id, band_id, band_hash)`` —
  O(n·bands) rows, never the raw text/payload.
- **Skew**: a boilerplate-heavy bucket of size m would emit m² pairs.
  Every bucket gets its size via a count window (same shuffle key as
  the join, so co-partitioned). Buckets with ``size <= max_bucket_size``
  do the full intra-bucket pair join; larger buckets fall back to
  **star edges** (every member -> bucket-min member, via a min window)
  — O(m) output that still connects the component for CC. This is the
  salting-adjacent cap: correctness of *clusters* is preserved because
  edges only need to connect, not enumerate.
- AQE skew-join splitting stays on as the second line of defense: hot
  verify keys (one doc in many pairs) are split by the skew join, with
  no salt repartition before verification.
- Pairs are deduped across bands with a groupBy on (id_a, id_b) —
  map-side partial aggregation collapses most duplicates before the
  shuffle. ``bucket_pairs`` is the per-bucket expansion before that
  groupBy; the pipeline groups it once for every verify tier.
- The star-cap degradation is reported, not inferred: ``bucket_stats``
  is one ungrouped aggregate over the sized frame that counts each
  bucket at its minimum member's row, so it adds no per-bucket groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def explode_bands(df: DataFrame, id_col: str, bands_col: str) -> DataFrame:
    """(id, array<long> bands) -> (id, band_id, band_hash)."""
    return df.select(
        F.col(id_col).alias("clip_id"),
        F.posexplode(F.col(bands_col)).alias("band_id", "band_hash"),
    )


def size_buckets(banded: DataFrame) -> DataFrame:
    """Attach per-bucket size and min member (one exchange on the
    bucket key). ``candidate_pairs``, ``bucket_stats`` and the
    containment pre-filter all need exactly this — callers that run
    more than one of them should compute it once, ``persist()`` it,
    and pass the sized frame to each consumer so the explode + window
    shuffle happens a single time per banded input (the pipeline does
    this; unshared, the observability pass alone costs one extra full
    shuffle per modality)."""
    w = Window.partitionBy("band_id", "band_hash")
    return banded.withColumn("__bucket_n", F.count(F.lit(1)).over(w)).withColumn(
        "__bucket_min", F.min("clip_id").over(w)
    )


def bucket_pairs(sized: DataFrame, max_bucket_size: int = 256) -> DataFrame:
    """``size_buckets`` output -> one ``(id_a, id_b, band_id, small)`` row
    per pair per bucket, id_a < id_b — the pair expansion every
    candidate consumer shares (``candidate_pairs`` groups it per pair;
    the pipeline's fused verify groups it once with per-tier flags).

    Small buckets (``1 < size <= max_bucket_size``, ``small`` true):
    full intra-bucket pairs. Oversized buckets (``small`` false): star
    edges to the bucket minimum (O(m)); the recall degradation is
    reported by ``bucket_stats``.

    Physical shape (r6): small-bucket pairs are generated by a grouped
    collect + JVM-side array expansion instead of a bucket self-join.
    The groupBy shares the ``size_buckets`` window's
    ``(band_id, band_hash)`` partitioning, so the whole small-pair path
    adds ZERO exchanges (the join version built and broadcast a copy of
    the banded frame per call — plan-verified in plans/r06/). The
    collected member list is bounded by ``max_bucket_size`` (the filter
    runs before the agg), so the agg buffer is capped exactly like the
    join's per-bucket output was. ``sort_array`` orders members, so
    expanding (i, j > i) combinations emits each unordered pair once
    per bucket with id_a < id_b.
    """
    small = sized.filter(
        (F.col("__bucket_n") <= max_bucket_size) & (F.col("__bucket_n") > 1)
    )
    members = small.groupBy("band_id", "band_hash").agg(
        F.sort_array(F.collect_list("clip_id")).alias("__m")
    )
    m = F.col("__m")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(m) - 1),
            lambda i: F.transform(
                F.slice(m, i + 1, F.size(m) - i),
                lambda x: F.struct(
                    F.element_at(m, i).alias("id_a"), x.alias("id_b")
                ),
            ),
        )
    )
    small_pairs = (
        members.select("band_id", F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "band_id", F.lit(True).alias("small"))
        # strict inequality, exactly like the join's id_a < id_b: a
        # degenerate bucket holding the same id twice must not emit a
        # self-pair (sorted order makes every other pair id_a < id_b)
        .filter(F.col("id_a") != F.col("id_b"))
    )

    big_pairs = (
        sized.filter(F.col("__bucket_n") > max_bucket_size)
        .filter(F.col("clip_id") != F.col("__bucket_min"))
        .select(
            F.col("__bucket_min").alias("id_a"), F.col("clip_id").alias("id_b"),
            "band_id", F.lit(False).alias("small"),
        )
    )
    return small_pairs.unionByName(big_pairs)


def candidate_pairs(
    banded: DataFrame,
    max_bucket_size: int = 256,
) -> DataFrame:
    """(clip_id, band_id, band_hash) -> distinct (id_a, id_b,
    n_shared_bands), id_a < id_b: ``bucket_pairs`` grouped per pair.

    Accepts either a raw ``(clip_id, band_id, band_hash)`` frame or an
    already-``size_buckets``-ed one (detected by column).
    """
    sized = banded if "__bucket_n" in banded.columns else size_buckets(banded)
    return (
        bucket_pairs(sized, max_bucket_size)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _stat_columns(max_bucket_size: int, where=None) -> dict:
    """The ``bucket_stats`` aggregates over a ``size_buckets`` frame,
    restricted to the rows ``where`` holds (all rows when None). Each
    bucket contributes once, at the row of its minimum member."""
    n = F.col("__bucket_n")
    first = F.col("clip_id") == F.col("__bucket_min")
    if where is not None:
        first = first & where
    over = first & (n > max_bucket_size)
    return {
        "n_buckets": F.count(F.when(first, 1)),
        "n_star_buckets": F.sum(F.when(over, 1).otherwise(0)),
        "n_star_members": F.sum(F.when(over, n).otherwise(0)),
        "n_pairs_not_enumerated": F.sum(
            F.when(over, (n * (n - 1)) / 2 - (n - 1)).otherwise(0)
        ).cast("long"),
    }


def bucket_stats(banded: DataFrame, max_bucket_size: int = 256) -> DataFrame:
    """Observability for the star-edge cap: one row of bucket metrics.

    The cap in ``candidate_pairs`` silently degrades oversized buckets
    to star edges; recall lost there must be *visible*, not inferred.
    Returns (n_buckets, n_star_buckets, n_star_members,
    n_pairs_not_enumerated) where ``n_pairs_not_enumerated`` counts the
    intra-bucket pairs a capped bucket did NOT emit (m·(m-1)/2 full
    pairs minus the m-1 star edges).

    Accepts a raw banded frame (sized here, one window exchange) or a
    ``size_buckets`` output. Over the latter, persisted, it is a cache
    read plus one ungrouped partial aggregate: each bucket is counted at
    the row whose ``clip_id`` is its ``__bucket_min``, with no
    per-bucket groupBy.

    Precondition: a bucket holds each id at most once (otherwise the
    minimum member's rows count the bucket more than once). One row per
    clip per band and landmark sets made unique per clip both meet it.
    """
    sized = banded if "__bucket_n" in banded.columns else size_buckets(banded)
    return sized.agg(
        *[c.alias(name) for name, c in _stat_columns(max_bucket_size).items()]
    )


def bucket_stats_by(
    sized: DataFrame, max_bucket_size: int, slices: dict
) -> dict[str, dict[str, int]]:
    """``bucket_stats`` of several slices of one ``size_buckets`` frame,
    as ``{slice name: {stat: value}}``, from ONE ungrouped aggregate
    (``slices`` maps a name to a row filter, or None for every row).
    Same precondition as ``bucket_stats``."""
    cols = {
        kind: _stat_columns(max_bucket_size, where) for kind, where in slices.items()
    }
    row = sized.agg(*[
        c.alias(f"{kind}:{name}")
        for kind, stats in cols.items()
        for name, c in stats.items()
    ]).collect()[0]
    return {
        kind: {name: int(row[f"{kind}:{name}"] or 0) for name in stats}
        for kind, stats in cols.items()
    }
