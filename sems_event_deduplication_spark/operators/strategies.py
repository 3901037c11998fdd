"""Count-gated broadcast hints for cluster-level aggregate joins.

Sibling of the ``exact_dedup.kept_from_edges`` gate: a blind
``F.broadcast`` on a one-row-per-cluster table is a driver bomb in a
dedup corpus, where most clusters are singletons and cluster count ~
row count. The gate materializes the (narrow) aggregate once, counts
it, and only then decides — the count and the join share the same
materialization, so the gate costs one cheap job, never a second pass
over the aggregate's lineage (which may be a full-corpus scan).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# ~a few hundred MB of driver hash table at typical (key, value) widths
DEFAULT_BROADCAST_CAP_ROWS = 5_000_000

# frames persisted by gated_broadcast, released via
# release_gated_broadcasts() — see the leak note in the docstring.
# Bounded: past _MAX_GATED the oldest frame is evicted (unpersisted),
# so a long-lived session that never calls release still pins at most
# _MAX_GATED narrow aggregates; an evicted frame's consumers simply
# recompute lineage if they execute later. Guarded by _gated_lock: the
# pipeline legitimately runs Spark jobs from multiple driver threads
# (overlapped stage commits), so register/evict/release must not
# interleave — without the lock a concurrent release could race the
# eviction pop and double-unpersist or skip a frame.
_gated_frames: list[DataFrame] = []
_gated_lock = threading.Lock()
_MAX_GATED = 16


def gated_broadcast(
    df: DataFrame, cap_rows: int = DEFAULT_BROADCAST_CAP_ROWS
) -> DataFrame:
    """Return ``df`` hinted for broadcast only if it provably fits.

    NOTE this runs one Spark job at call time — the gate cannot decide
    without counting. The frame is ``persist(MEMORY_AND_DISK)``-ed (not
    ``localCheckpoint``-ed: persist keeps lineage, so an executor loss
    recomputes the lost blocks instead of permanently failing the
    downstream join) so the gate count and every consumer read the same
    materialized partitions — at most one computation of the aggregate
    regardless of the verdict. Over the cap the un-hinted frame is
    returned and AQE picks the join strategy from actual runtime sizes
    (SortMergeJoin / shuffled hash).

    Persisted frames stay registered in executor storage until
    ``release_gated_broadcasts()`` — call it after the consuming stage
    materializes (long-lived sessions running many pipelines would
    otherwise accumulate pinned aggregates). The contract entrypoints
    and tests run one query per session, where session teardown
    releases everything.

    SIDE EFFECT callers inherit: because the gate cannot decide without
    counting, constructing a plan through ``gated_broadcast`` (e.g.
    ``silver_labels``, ``merge_clusters``, ``stratified_cluster_split``)
    runs one eager Spark job and pins one persisted narrow aggregate
    at OPERATOR-CONSTRUCTION time, even if the returned plan is never
    executed. Plan-only callers (tests asserting on ``.explain``,
    speculative query construction) should pass ``cap_rows=0``.

    ``cap_rows=0`` disables the hint unconditionally (plain join, no
    materialization, no job).
    """
    if cap_rows <= 0:
        return df
    df = register_persisted(df)
    return F.broadcast(df) if df.count() <= cap_rows else df


def register_persisted(df: DataFrame) -> DataFrame:
    """``persist(MEMORY_AND_DISK)`` + enroll in the bounded release
    registry (same lock, eviction cap, and ``release_gated_broadcasts``
    lifecycle as the gated broadcasts). For operators that return
    SEVERAL frames sharing expensive lineage (``incremental_dedup``:
    sign UDFs + band join feed exact/near/novel): without the persist,
    each action a consumer runs re-executes the whole shared tree —
    measured 392 s vs 19 s (20x) for the incremental bench's three
    collects over a 42k batch. Persist keeps lineage (executor loss
    recomputes lost blocks), and the registry keeps long-lived
    sessions from accumulating pinned storage."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    evicted: list[DataFrame] = []
    with _gated_lock:
        _gated_frames.append(df)
        while len(_gated_frames) > _MAX_GATED:
            evicted.append(_gated_frames.pop(0))
    for old in evicted:
        old.unpersist(blocking=False)
    return df


def release_gated_broadcasts() -> int:
    """Unpersist every frame materialized by ``gated_broadcast`` or
    ``register_persisted`` since the last release; returns how many
    were released. Safe to call at any time and from any thread —
    consumers that re-execute afterwards recompute lineage."""
    with _gated_lock:
        drained = list(_gated_frames)
        _gated_frames.clear()
    for df in drained:
        df.unpersist(blocking=False)
    return len(drained)
