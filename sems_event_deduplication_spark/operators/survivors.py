"""Survivor selection + cluster summaries (SURVEY.md W3/W6, G6).

Reference: cluster head = first member of the merged list
(``create_silver_label.py:408`` — order-dependent). Here the canonical
survivor is the deterministic ``min(clip_id)`` per component, which is
also the component id itself (components.py), so survivor selection is
a filter, not another shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def select_survivors(
    clustered: DataFrame,
    id_col: str = "clip_id",
    cluster_col: str = "component",
) -> DataFrame:
    """One surviving row per component: the min-id member."""
    return clustered.filter(F.col(id_col) == F.col(cluster_col))


def cluster_summary(
    clustered: DataFrame,
    cluster_col: str = "component",
    max_member_ids: int = 128,
) -> DataFrame:
    """Per-cluster membership stats (lineage-facing).

    ``member_ids`` is capped at the ``max_member_ids`` smallest ids: a
    boilerplate mega-cluster — exactly what dedup finds — must not
    produce an unbounded single row. The cap is applied *before*
    aggregation (rank window + collect_list over a when(), which skips
    nulls) so the agg buffer itself is bounded, not just the output.
    The window and the groupBy share the ``cluster_col`` partitioning,
    so this costs no extra exchange. ``n_members`` is always exact; the
    full membership lives in the clustered table itself.
    """
    w = Window.partitionBy(cluster_col).orderBy("clip_id")
    ranked = clustered.withColumn("__rk", F.row_number().over(w))
    return ranked.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("clip_id").alias("survivor_id"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("__rk") <= max_member_ids, F.col("clip_id"))
            )
        ).alias("member_ids"),
    )
