"""Temporal semantics: 1-D DBSCAN denoise + interval merge gate.

Reference behaviors re-expressed as pure window SQL (SURVEY.md W2, J2):

- ``run_temporal_clustering`` (``create_silver_label.py:223-261``) runs
  sklearn DBSCAN(eps=1 day, min_samples=3) per cluster on the day axis,
  drops outliers, keeps the most-populated temporal segment.
- ``merge_cluster``'s temporal gate (``create_silver_label.py:358-382``)
  merges two clusters iff their [min_date, max_date] intervals are
  within ``max_gap_days`` (distance <= 10 covers overlap).

Exact 1-D DBSCAN parity, no UDF:
  core point  <-> >= min_samples points within +-eps days
                  (count OVER RANGE BETWEEN eps PRECEDING AND eps FOLLOWING)
  two core days chain iff gap <= eps (lag + cumsum session id)
  border day  -> segment of the nearest core day within eps
                 (ties -> earlier core day)
  else        -> noise (dropped)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dbscan_1d_segments(
    df: DataFrame,
    cluster_col: str = "component",
    date_col: str = "event_date",
    eps_days: int = 1,
    min_samples: int = 3,
) -> DataFrame:
    """Adds ``segment`` (temporal sub-cluster id per cluster; null = noise)."""
    day = F.datediff(
        F.col(date_col), F.min(date_col).over(Window.partitionBy(cluster_col))
    )
    d = df.withColumn("__day", day)

    # point counts per (cluster, day); core-day detection on the compressed day axis
    days = d.groupBy(cluster_col, "__day").agg(F.count(F.lit(1)).alias("__cnt"))
    w_rng = (
        Window.partitionBy(cluster_col)
        .orderBy("__day")
        .rangeBetween(-eps_days, eps_days)
    )
    days = days.withColumn("__nbrs", F.sum("__cnt").over(w_rng)).withColumn(
        "__is_core", F.col("__nbrs") >= min_samples
    )

    # chain core days into segments: gap > eps starts a new segment
    w_core = Window.partitionBy(cluster_col).orderBy("__day")
    core = (
        days.filter("__is_core")
        .withColumn("__gap", F.col("__day") - F.lag("__day").over(w_core))
        .withColumn(
            "__new",
            F.when(F.col("__gap").isNull() | (F.col("__gap") > eps_days), 1).otherwise(0),
        )
        .withColumn("segment", F.sum("__new").over(
            w_core.rowsBetween(Window.unboundedPreceding, 0)
        ))
        .select(cluster_col, F.col("__day").alias("__core_day"), "segment")
    )

    # attach every day to the nearest core day within eps (ties -> earlier)
    attached = (
        days.join(core, on=cluster_col)
        .withColumn("__dist", F.abs(F.col("__day") - F.col("__core_day")))
        .filter(F.col("__dist") <= eps_days)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(cluster_col, "__day").orderBy(
                    "__dist", "__core_day"
                )
            ),
        )
        .filter(F.col("__rk") == 1)
        .select(cluster_col, "__day", "segment")
    )

    return d.join(attached, [cluster_col, "__day"], "left").drop("__day")


def keep_largest_segment(
    df: DataFrame, cluster_col: str = "component", segment_col: str = "segment"
) -> DataFrame:
    """Drop noise rows and keep only the most-populated temporal segment
    per cluster (reference ``create_silver_label.py:245-253``).
    Ties -> smallest segment id (deterministic)."""
    denoised = df.filter(F.col(segment_col).isNotNull())
    sizes = denoised.groupBy(cluster_col, segment_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    best = sizes.withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy(cluster_col).orderBy(
                F.col("__n").desc(), F.col(segment_col)
            )
        ),
    ).filter(F.col("__rk") == 1).select(cluster_col, segment_col)
    return denoised.join(best, [cluster_col, segment_col], "left_semi")


def interval_merge_edges(
    clustered: DataFrame,
    cluster_col: str = "component",
    date_col: str = "event_date",
    max_gap_days: int = 10,
    strategy: str = "banded",
    band_days: int | None = None,
    max_span_bands: int = 64,
) -> DataFrame:
    """Cluster pairs whose date intervals are within ``max_gap_days``.

    Pre-aggregates to (cluster, min_d, max_d) — one row per cluster —
    then finds every pair satisfying the closed-form overlap test
    equivalent to the reference's within/overlaps/distance branches
    (``create_silver_label.py:368-377``):

        a.min <= b.max + gap AND b.min <= a.max + gap

    ``strategy``:

    - ``"banded"`` (default, the J2 scale form SURVEY.md §2.4
      prescribes): each span — right-extended by ``gap`` so the test
      reduces to plain interval overlap — is exploded to the
      ``band_days``-wide date buckets it covers; candidate pairs come
      from an **equi-join on the bucket id** (SortMergeJoin/shuffled
      hash — never a nested loop), then the exact overlap test and a
      pair-dedup run. Two spans within ``gap`` always share >= 1
      bucket, so recall is exactly 1. Cost is O(Σ buckets-per-span)
      join input instead of O(C²) comparisons; in a dedup corpus most
      clusters are singletons, so C ~ row count and the quadratic form
      is unusable at engine scale.
      Pathological spans covering more than ``max_span_bands`` buckets
      (years-long clusters) would explode the band index; they are
      split off (a tiny side at any realistic skew) and resolved
      against the full span table with an unhinted non-equi join —
      Spark/AQE sizes it at run time (tiny wide side -> broadcast
      nested-loop; oversized -> distributed product, never a driver
      bomb) and plan construction stays lazy. Correctness is preserved
      for every pair shape: narrow x narrow via buckets, wide x
      anything via the wide pass.
    - ``"broadcast"``: the O(C²) broadcast nested-loop form — cheapest
      when the cluster count is known-tiny (the reference's dozens of
      clusters; ``create_silver_label.py:359-382``), a driver bomb and
      a quadratic CPU sink beyond ~10^5 clusters.

    ``band_days`` defaults to ``max(7, max_gap_days + 1)``: wide enough
    that typical event spans cover O(1) buckets, narrow enough that a
    bucket only collides spans within ~2 weeks of each other.
    """
    spans = clustered.groupBy(cluster_col).agg(
        F.min(date_col).alias("min_d"), F.max(date_col).alias("max_d")
    )
    if strategy == "broadcast":
        a = spans.select(
            F.col(cluster_col).alias("ca"),
            F.col("min_d").alias("min_a"),
            F.col("max_d").alias("max_a"),
        )
        b = spans.select(
            F.col(cluster_col).alias("cb"),
            F.col("min_d").alias("min_b"),
            F.col("max_d").alias("max_b"),
        )
        cond = (
            (F.col("ca") < F.col("cb"))
            & (F.col("min_a") <= F.date_add(F.col("max_b"), max_gap_days))
            & (F.col("min_b") <= F.date_add(F.col("max_a"), max_gap_days))
        )
        return a.join(F.broadcast(b), cond).select("ca", "cb")
    if strategy != "banded":
        raise ValueError(f"unknown interval_merge_edges strategy: {strategy!r}")

    width = band_days or max(7, max_gap_days + 1)
    # integer day axis; hi is right-extended by gap so "within gap"
    # becomes plain overlap: a.lo <= b.hi AND b.lo <= a.hi
    day0 = F.to_date(F.lit("1970-01-01"))
    ext = spans.select(
        F.col(cluster_col).alias("c"),
        F.datediff("min_d", day0).alias("lo"),
        (F.datediff("max_d", day0) + max_gap_days).alias("hi"),
    ).withColumn("b_lo", F.floor(F.col("lo") / width)).withColumn(
        "b_hi", F.floor(F.col("hi") / width)
    )
    narrow = ext.filter(F.col("b_hi") - F.col("b_lo") < max_span_bands)
    wide = ext.filter(F.col("b_hi") - F.col("b_lo") >= max_span_bands)

    banded = narrow.select(
        "c", "lo", "hi", F.explode(F.sequence("b_lo", "b_hi")).alias("bucket")
    )
    a = banded.select(
        F.col("c").alias("ca"), F.col("lo").alias("lo_a"),
        F.col("hi").alias("hi_a"), "bucket",
    )
    b = banded.select(
        F.col("c").alias("cb"), F.col("lo").alias("lo_b"),
        F.col("hi").alias("hi_b"), "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(
            (F.col("ca") < F.col("cb"))
            & (F.col("lo_a") <= F.col("hi_b"))
            & (F.col("lo_b") <= F.col("hi_a"))
        )
        .select("ca", "cb")
        .distinct()  # a pair can share several buckets
    )

    # wide spans (rare by construction) still must pair with EVERYTHING
    # they overlap, including each other: a non-equi join of the wide
    # side against the full span table. The wide side is *usually* tiny
    # (a span must cover > max_span_bands buckets to land here), but
    # nothing in the data guarantees it — an archival corpus of
    # long-lived clusters could push millions of rows through this
    # branch — so the join carries NO broadcast hint: Spark/AQE picks
    # the strategy from size estimates at run time (a tiny wide side
    # becomes a broadcast nested-loop, an oversized one degrades to a
    # distributed product — quadratic CPU but never a driver bomb),
    # and plan construction stays lazy (a count-gated hint would run a
    # Spark job over the span aggregate at call time).
    w = wide.select(
        F.col("c").alias("cw"), F.col("lo").alias("lo_w"), F.col("hi").alias("hi_w")
    )
    s = ext.select(
        F.col("c").alias("cs"), F.col("lo").alias("lo_s"), F.col("hi").alias("hi_s")
    )
    wide_pairs = (
        s.join(
            w,
            (F.col("cw") != F.col("cs"))
            & (F.col("lo_w") <= F.col("hi_s"))
            & (F.col("lo_s") <= F.col("hi_w")),
        )
        .select(
            F.least("cw", "cs").alias("ca"), F.greatest("cw", "cs").alias("cb")
        )
        .distinct()
    )
    return pairs.unionByName(wide_pairs).distinct()
