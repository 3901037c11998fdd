"""Exact deduplication (SURVEY.md §2.3 D1 / §2.6 W1).

Reference: ``drop_duplicates(subset='title', keep="last")``
(``create_silver_label.py:67``). "last" is positional there; here order
is an explicit column (``order_col``), so the semantics are
deterministic and distribution-safe:

    row_number() OVER (PARTITION BY key ORDER BY ord DESC) = 1

For the big pipeline the exact key is a content digest of the
transcript and payload (``exact_dedup_digest_keys``), so the (possibly
huge) payload never becomes a shuffle key. The pipeline composes the
operator from three steps: digest keys -> ``digest_rank_edges`` over
the narrow projection -> ``kept_from_edges`` against the committed edge
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def digest_rank_edges(
    narrow: DataFrame,
    key_names: list[str],
    id_col: str = "clip_id",
    order_col: str = "clip_id",
) -> DataFrame:
    """The keep-last ranking core: (id, order, digest keys) ->
    (id_a = keeper, id_b = dropped) edge list. Both pipeline scan
    modes rank through it, so keep-last semantics and edge orientation
    cannot drift apart. The window only ever sees this narrow
    projection: the binary payload never rides the digest shuffle.

    Skew bound: the window partitions by the digest keys, so a
    boilerplate mega-dup family (one digest shared by m rows) sorts its
    whole group in ONE task — O(m log m) narrow rows (id + order + two
    64-hex digests, no payload). That is ~10 GB of window state at
    m = 10^8 identical rows; corpora beyond that should pre-aggregate
    ``max(order) per key`` and join back instead of ranking (the LSH
    tier's star-edge cap is the analogous guard). Not the default
    because the agg+join form costs an extra shuffle on every corpus to
    protect against a shape exact dedup rarely sees."""
    w = Window.partitionBy(*key_names).orderBy(F.col(order_col).desc())
    ranked = narrow.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__keeper", F.first(F.col(id_col)).over(w)
    )
    return (
        ranked.filter(F.col("__rn") > 1)
        .select(F.col("__keeper").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def kept_from_edges(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "clip_id",
    strategy: str = "auto",
    max_broadcast_ids: int = 20_000_000,
    n_dropped: int = -1,
) -> DataFrame:
    """Keeper rows of ``df``: a ``left_anti`` join against the dropped
    ids (``edges.id_b``) of a MATERIALIZED edge table (e.g. a warehouse
    checkpoint). Shared by both pipeline scan modes.

    The dropped rows still belong in the final clusters: the edges feed
    connected components so exact dups re-attach to their keeper's
    component. The ``auto`` gate (the only ``strategy``) picks the join:

    - at most ``max_broadcast_ids`` dropped ids: broadcast them. The
      dropped set is exactly what dedup removes — at a realistic dup
      rate a small fraction of the corpus, unlike the keeper set (≈ all
      rows) — and the payload side of the join never exchanges. The
      hint is explicit because AQE materializes both shuffle sides
      before converting a sort-merge join, which would exchange the
      payload.
    - above the cap: plain ``left_anti`` with no hint, so an
      arbitrarily large dropped set (a boilerplate mega-dup corpus) is
      never forced onto the driver; on a real cluster pair it with
      tables bucketed by ``id_col`` (``WarehouseIO.save_bucketed``) so
      neither side exchanges.

    ``n_dropped`` is the edge table's row count when the caller already
    has it (the pipeline passes ``WarehouseIO.rows_written``); when it
    is -1 the gate counts the table, one narrow job. The count decides
    only the join shape, never the result."""
    if strategy != "auto":
        raise ValueError(f"exact-dedup strategy must be 'auto', got {strategy!r}")
    dropped_ids = edges.select(F.col("id_b").alias(id_col))
    if n_dropped < 0:
        n_dropped = dropped_ids.count()
    if n_dropped <= max_broadcast_ids:
        dropped_ids = F.broadcast(dropped_ids)
    return df.join(dropped_ids, id_col, "left_anti")


def exact_dedup_digest_keys(
    text_col: str, payload_col: str | None, algo: str = "xxh128"
) -> tuple[list[str], list]:
    """(key column names, digest select expressions) for content-hash
    exact dedup — one definition shared by the operator and both
    pipeline scan modes.

    ``algo``:

    - ``"xxh128"`` (default): two independent ``xxhash64`` words per
      content (second word salt-PREFIXES the input with a distinct
      literal) — a 128-bit composite key. The salt must come BEFORE
      the content column: Spark chains multi-arg ``xxhash64`` by
      feeding each argument's running hash in as the next seed, so a
      suffix salt (``xxhash64(col, lit)``) yields a word that is a
      pure function of ``xxhash64(col)`` — any first-word collision
      would automatically be a full-key collision, silently reducing
      the key to 64 bits. Prefixing hashes the content under a
      distinct derived seed instead, making the two words
      independent for accidental collisions.
      xxhash runs ~10x sha2's bytes/sec and,
      measured on the 108k-clip bench corpus, sha2 is also the
      worst-scaling work under core contention — the digest pass is
      pure overhead, so it should be the cheapest hash that cannot
      collide. Collision math: P(two DIFFERENT contents agree on both
      words) ~ 2^-128 per pair; at 10^12 rows (~2^79 pairs) the
      corpus-wide false-merge probability is ~2^-49 — negligible
      against any operational risk, including task retries.
    - ``"sha256"``: cryptographic digests, for warehouses that audit or
      share the digest column externally (content-addressable stores
      want preimage resistance, which xxhash does not offer).
    """
    if algo == "sha256":
        key_names = ["__k_text"]
        digests = [F.sha2(F.col(text_col), 256).alias("__k_text")]
        if payload_col is not None:
            key_names.append("__k_payload")
            digests.append(F.sha2(F.col(payload_col), 256).alias("__k_payload"))
        return key_names, digests
    if algo != "xxh128":
        raise ValueError(f"unknown exact-dedup digest algo: {algo!r}")
    key_names = ["__k_text_1", "__k_text_2"]
    digests = [
        F.xxhash64(F.col(text_col)).alias("__k_text_1"),
        F.xxhash64(F.lit("#2"), F.col(text_col)).alias("__k_text_2"),
    ]
    if payload_col is not None:
        key_names += ["__k_payload_1", "__k_payload_2"]
        digests += [
            F.xxhash64(F.col(payload_col)).alias("__k_payload_1"),
            F.xxhash64(F.lit("#2"), F.col(payload_col)).alias("__k_payload_2"),
        ]
    return key_names, digests

