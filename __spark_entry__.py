"""Driver contract for the spark-graft builder (PySpark target).

Maps the engine's operator inventory (SURVEY.md §2) onto the driver's
tables. Every ``queries()`` entry with an ``oracle_sql()`` twin is
checked Spark-vs-DuckDB at sf=0.01 (row count + schema + order-
insensitive value hash); entries without an oracle (custom pandas-UDF
pipeline, streaming) get a rows-only check.

Float discipline: divisions are single ops (identical IEEE in both
engines) rounded to 6 dp; money aggregates are summed as DECIMAL
(exact, order-independent) then cast to double; top-k queries order by
(rounded value, id) so the selected set is engine-independent.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sems_event_deduplication_spark.functions import text as X
from sems_event_deduplication_spark.functions.text import char_shingles, normalize_text

K = 9  # shingle size used by the SQL-checkable queries
STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _scratch_index_dir(kind: str, sf_dir: str) -> str:
    """Pid-scoped scratch path for an index a contract query writes and
    then probes (two concurrent runs over same-named scale dirs must
    not clobber each other). The result DataFrame is collected by the
    DRIVER after the query function returns, so cleanup is deferred to
    process exit (atexit) rather than a try/finally — and dirs left by
    crashed/killed previous runs are swept here when their pid is gone,
    so repeated bench/contract runs do not accumulate index copies."""
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    prefix = f"sems_{kind}_index_contract_"
    for name in os.listdir(tmp):
        if not name.startswith(prefix):
            continue
        try:
            pid = int(name[len(prefix):])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another user: leave it
    own = os.path.join(tmp, f"{prefix}{os.getpid()}")
    atexit.register(shutil.rmtree, own, ignore_errors=True)
    return os.path.join(own, os.path.basename(sf_dir))


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: text near-dup clustering over sf0.001 documents.

    normalize -> shingles -> MinHash (Arrow UDF) -> LSH bands ->
    candidates -> exact-Jaccard verify -> connected components ->
    cluster summary. (SURVEY.md §3.1 lifecycle, text path.)
    """
    from sems_event_deduplication_spark.conf import DedupConfig
    from sems_event_deduplication_spark.functions.minhash import with_text_signatures
    from sems_event_deduplication_spark.operators.components import (
        assign_components, connected_components,
    )
    from sems_event_deduplication_spark.operators.lsh import (
        candidate_pairs, explode_bands,
    )
    from sems_event_deduplication_spark.operators.verify import verify_jaccard

    cfg = DedupConfig(jaccard_threshold=0.5)
    docs = _t(spark, "/root/testdata/sf0.001", "documents").select(
        F.col("doc_id").cast("string").alias("clip_id"),
        normalize_text(F.col("text"), strip_boilerplate=False).alias("transcript_norm"),
    )
    # the pipeline's text signatures; verify runs on the int64 shingle
    # hashes: Jaccard is identical modulo xxhash64 collisions
    # (~2^-64/pair), and neither the persisted frame nor the two-side
    # verify join carries the string arrays
    sigs = with_text_signatures(docs, cfg).select(
        "clip_id", "shingle_hashes", "minhash_sig", "bands"
    )
    sigs = sigs.persist()  # reused by candidates, both verify sides, assign
    cands = candidate_pairs(explode_bands(sigs, "clip_id", "bands"), cfg.max_bucket_size)
    verified = verify_jaccard(
        cands, sigs, cfg.num_perm, cfg.jaccard_threshold, cfg.est_margin,
        shingles_col="shingle_hashes",
    )
    comp = connected_components(verified, "id_a", "id_b", cfg.cc_max_iterations)
    clustered = assign_components(sigs.select("clip_id"), comp)
    return clustered.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("clip_id").alias("survivor_id"),
    )


# --------------------------------------------------------------------------
# SQL-checkable queries (operator inventory -> driver tables)
# --------------------------------------------------------------------------

def q_exact_dedup_keeplast(spark, sf_dir):
    """D1/W1: keep-last exact dedup, keyed on a 16-char text prefix."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.substring("text", 1, 16)).orderBy(F.col("doc_id").desc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_chars")
    )


def q_normalize_remove_stick(spark, sf_dir):
    """P2/P3/F12: normalization incl. longest-|-part boilerplate strip."""
    d = _t(spark, sf_dir, "documents")
    stick = F.concat(F.col("text"), F.lit(" | Breaking, News!"))
    return d.select("doc_id", X.normalize_text(stick).alias("norm_text"))


def q_shingle_count(spark, sf_dir):
    """X6/G1 prep: distinct char-9-shingles per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(char_shingles(F.col("text"), K)).cast("long").alias("n_shingles"),
    )


def q_minhash_md5_signature(spark, sf_dir):
    """G1a in SQL-checkable form: 4 MinHash slots via md5 salt-prefix.

    slot_p = min over shingles of md5('p:' || shingle) — a real MinHash
    (md5 as the permutation), computable identically in DuckDB.
    """
    # single-file table reads back as one split; the 4 x md5-per-shingle
    # transform is the priciest contract query, so spread it
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # materialize the shingle array ONCE in its own projection: inlined
    # into each slot, char_shingles (sequence + substr + array_distinct)
    # was evaluated 4x per row (plan-verified, plans/r06/) — the alias
    # is referenced by all four slots and is non-cheap, so
    # CollapseProject keeps the projection separate and the distinct
    # shingle set is computed a single time per document
    shingled = d.select(
        "doc_id", char_shingles(F.col("text"), K).alias("__sh")
    )

    def slot(p: int):
        # NB: a 2-arg lambda in F.transform means (element, index) — a
        # closure factory keeps the salt a plan-time literal.
        prefix = F.lit(f"{p}:")
        return F.array_min(
            F.transform(F.col("__sh"), lambda s: F.md5(F.concat(prefix, s)))
        ).alias(f"slot_{p}")

    return shingled.select("doc_id", *[slot(p) for p in range(4)])


_SIMHASH_BITS = 16


def _simhash16(d):
    """16-bit text SimHash: bit j = majority over word tokens of the
    MSB of hex digit j of md5(token). Same structure as the audio
    SimHash (G1b) — sign of a per-bit sum of per-token ±1 votes — in a
    form DuckDB computes identically (md5 + substring only)."""
    words = F.filter(F.split(F.lower(F.col("text")), " "), lambda w: F.length(w) > 0)
    ex = d.select("doc_id", F.explode(words).alias("w")).withColumn("h", F.md5("w"))
    votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1) >= F.lit("8"), 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(_SIMHASH_BITS)
    ]
    g = ex.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(_SIMHASH_BITS)
    ]
    return g.select("doc_id", F.concat(*bits).alias("simhash16"))


def q_text_simhash(spark, sf_dir):
    """G1b's text twin: SimHash signature per document (SURVEY.md §2.9)."""
    return _simhash16(_t(spark, sf_dir, "documents"))


def q_simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup decision: doc pairs (id < 100) with Hamming
    distance <= 3 on the 16-bit signature — the text analogue of the
    audio verify tier (bit_count(a^b) <= h)."""
    sims = _simhash16(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    a = sims.select(F.col("doc_id").alias("id_a"), F.col("simhash16").alias("sa"))
    b = sims.select(F.col("doc_id").alias("id_b"), F.col("simhash16").alias("sb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    ham = sum(
        F.when(
            F.substring("sa", j + 1, 1) != F.substring("sb", j + 1, 1), 1
        ).otherwise(0)
        for j in range(_SIMHASH_BITS)
    )
    return (
        pairs.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


def q_jaccard_pairs_topk(spark, sf_dir):
    """J1/J3: exact shingle-Jaccard, top-20 pairs among doc_id < 60."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    ex = d.select(
        "doc_id", F.explode(char_shingles(F.col("text"), K)).alias("sh")
    )
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ex.select(F.col("doc_id").alias("id_a"), "sh")
    b = ex.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6),
        )
        .select("id_a", "id_b", "jaccard")
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


def q_lang_source_counts(spark, sf_dir):
    """P4/A5: language filter + grouped counts."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang") != "zh")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_mode_event_type_per_user(spark, sf_dir):
    """A3/W5: majority event type per user (ties -> lexicographic min)."""
    e = _t(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event_type"), "n")
    )


def q_session_count_per_user(spark, sf_dir):
    """W2/G4 analogue: sessionization by 30-min gap, sessions per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = e.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return flagged.groupBy("user_id").agg(F.sum("new_s").alias("n_sessions"))


def q_orders_within_week(spark, sf_dir):
    """J2: non-equi self range-join — same-customer orders <= 7 days apart."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k_a"),
        F.col("o_orderdate").alias("d_a"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k_b"),
        F.col("o_orderdate").alias("d_b"),
    )
    return (
        a.join(b, "custkey")
        .filter(
            (F.col("k_a") < F.col("k_b"))
            & (F.abs(F.datediff(F.col("d_a"), F.col("d_b"))) <= 7)
        )
        .select("custkey", "k_a", "k_b")
    )


def q_date_coverage(spark, sf_dir):
    """A13/F7: per-priority distinct days covered by [date, date+3]."""
    o = _t(spark, sf_dir, "orders")
    days = o.select(
        "o_orderpriority",
        F.explode(
            F.sequence(
                F.to_date("o_orderdate"),
                F.date_add(F.to_date("o_orderdate"), 3),
            )
        ).alias("day"),
    )
    return days.groupBy("o_orderpriority").agg(
        F.countDistinct("day").alias("n_days")
    )


def q_lineitem_agg(spark, sf_dir):
    """A-generic (TPC-H Q1 shape) with exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    # no repartition before the aggregation: the partial aggregate
    # collapses the scan to one row per (flag, status) group, so the
    # final aggregate's exchange is the only one the query needs (a
    # round-robin repartition of the raw rows measured 0.69x)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount",
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)")
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_order_per_cust(spark, sf_dir):
    """W5: top-1 per group (max totalprice order per customer)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
    )


def q_revenue_by_segment(spark, sf_dir):
    """J-generic: 3-way join + decimal revenue per market segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # Pre-aggregate lineitem revenue per order BEFORE the join: the
    # 600k-row probe side shrinks 4x to one row per order, the
    # countDistinct expand disappears (orderkey is unique after the
    # pre-agg, so n_orders is a plain count), and the join runs over
    # the shuffled 32 partitions instead of inside the single-row-group
    # scan task (guide §2.3 "aggregate before you shuffle", §3).
    # Equivalence: decimal sums are exact and associative, so
    # sum(per-order sums) == the flat sum bit for bit, and each
    # o_orderkey appears at most once post-agg, so count(1) ==
    # countDistinct(o_orderkey). Inner joins drop the same rows.
    li_per_order = (
        li.select(
            "l_orderkey",
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,6)").alias("__rev"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("__rev").alias("__order_rev"))
    )
    return (
        li_per_order.join(o, li_per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("__order_rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_embedding_cosine_topk(spark, sf_dir):
    """Similarity search: brute-force cosine top-10 vs vec_id=0."""
    from sems_event_deduplication_spark.operators.similarity import dot

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    j = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cos = dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
    return (
        j.select("vec_id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


def q_embedding_sign_bits(spark, sf_dir):
    """G1b analogue: 32-bit sign signature over the first 32 dims."""
    e = _t(spark, sf_dir, "embeddings")
    bits = None
    for i in range(32):
        term = F.when(F.element_at("embedding", i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bits = term if bits is None else (bits + term)
    return e.select("vec_id", bits.cast("long").alias("sig32"))


def q_text_quality(spark, sf_dir):
    """Training-pipeline op: token counts + stopword ratio + bucket."""
    d = _t(spark, sf_dir, "documents")
    words = X.word_tokens(F.col("text"))
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    # greatest(n,1): an empty document would divide by zero, which
    # RAISES under ANSI mode (Spark 4 default) — one degenerate row
    # would kill the query; the oracle guards identically
    ratio = F.round(n_stop.cast("double") / F.greatest(n_words, F.lit(1)), 6)
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        ratio.alias("stopword_ratio"),
        F.when(n_words >= 60, "long").when(n_words >= 30, "medium").otherwise("short").alias("len_bucket"),
    )


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of whitespace-collapsed lowercase text."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    return d.select("doc_id", F.md5(norm).alias("fp"))


def q_user_activity_buckets(spark, sf_dir):
    """A9: bucket users by event count (large/medium/small)."""
    e = _t(spark, sf_dir, "events")
    cnt = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return cnt.select(
        "user_id",
        "n_events",
        F.when(F.col("n_events") > 80, "large")
        .when(F.col("n_events") >= 60, "medium")
        .otherwise("small")
        .alias("bucket"),
    )


def q_keep_last_event_per_user(spark, sf_dir):
    """W1 on events: latest event per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id")
    )


def q_source_entity_overlap(spark, sf_dir):
    """A1/A6/J3: per-source frequent words (>4 mentions), pairwise
    overlap |A∩B| / max(|A|,|B|) >= 0.5 (reference max-denominator)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "source", F.explode(X.word_tokens(F.col("text"))).alias("w")
    ).filter(F.length("w") >= 5)
    freq = (
        words.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 4)
    )
    sizes = freq.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = freq.select(F.col("source").alias("src_a"), "w")
    b = freq.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "src_a").join(nb, "src_b")
        .withColumn("overlap", F.round(F.col("n_inter") / F.greatest("na", "nb"), 6))
        .filter(F.col("overlap") >= 0.5)
        .select("src_a", "src_b", "overlap")
    )


def q_user_type_entropy(spark, sf_dir):
    """A12: Shannon entropy of the event-type distribution per user."""
    from sems_event_deduplication_spark.operators.textstats import cluster_type_entropy

    e = _t(spark, sf_dir, "events")
    return cluster_type_entropy(e, cluster_col="user_id", type_col="event_type").select(
        "user_id", F.col("type_entropy").alias("entropy")
    )


def q_lang_id_heuristic(spark, sf_dir):
    """Language-ID by stopword-profile argmax (training-pipeline op)."""
    from sems_event_deduplication_spark.operators.textstats import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("pred_lang"))


# --------------------------------------------------------------------------
# non-SQL-expressible queries (rows-only driver check)
# --------------------------------------------------------------------------

def q_stream_event_counts(spark, sf_dir):
    """Structured Streaming: windowed counts with watermark, memory sink."""
    schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qname = "stream_event_counts_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(qname).select(
        F.col("window.start").alias("win_start"), "event_type", "n"
    )


def _stream_neardup_fixture(spark, sf_dir, gap, prefix):
    """Shared fixture for the two streaming near-dup contract queries:
    200 pairwise-dissimilar docs (40 unique md5-derived tokens each —
    cross-doc shingle Jaccard ~ 0) plus exactly three planted near-dups
    of d3/d13/d23 (source text + a trailing edit) arriving ``gap``
    after their sources. Returns the json source dir. One builder so
    the stateful and join variants stay on the SAME planted truth —
    only the arrival gap differs (the join enforces its horizon as a
    range predicate; the stateful op's TTL evicts at batch
    boundaries)."""
    import tempfile

    src = tempfile.mkdtemp(prefix=prefix)
    word = lambda i: F.concat(  # noqa: E731
        F.lit("w"),
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string"))),
            1, 8,
        ),
    )
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        F.concat(F.lit("d"), F.col("doc_id")).alias("clip_id"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("ts"),
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(1), F.lit(40)), word)
        ).alias("transcript"),
    )
    dups = docs.filter(F.col("clip_id").isin(["d3", "d13", "d23"])).select(
        F.concat(F.col("clip_id"), F.lit("_dup")).alias("clip_id"),
        (F.col("ts") + F.expr(f"INTERVAL {gap}")).alias("ts"),
        F.concat(F.col("transcript"), F.lit(" trailing edit")).alias("transcript"),
    )
    docs.unionByName(dups).write.mode("overwrite").json(src)
    return src


def q_stream_neardup_candidates(spark, sf_dir):
    """Custom stateful streaming op (applyInPandasWithState): online
    near-dup candidates over a doc stream, keyed state = bottom-k
    sketches per bucket, event-time TTL. Rows-only (streaming) but
    SELF-CHECKING: the base docs get pairwise-dissimilar deterministic
    texts (40 unique md5-derived tokens each — cross-doc shingle
    Jaccard ~ 0), and exactly three near-dups are planted (d3_dup,
    d13_dup, d23_dup = source text + a trailing edit, arriving 5 h
    later). The operator emits least/greatest-CANONICAL pairs with
    at-least-once delivery (one emission per shared bucket key — here
    n_bucket_keys=8 to stress multiplicity), so the one aggregation a
    consumer owes is a plain ``distinct`` on (id_a, id_b); the result
    is EXACTLY the 3 planted pairs

        (d13, d13_dup), (d23, d23_dup), (d3, d3_dup)

    — a missed planted dup drops a row (recall), a spurious candidate
    between dissimilar docs adds one (precision): the driver's
    row count (3) is a two-sided oracle, like ``audio_offset_pairs``.
    """
    from sems_event_deduplication_spark.streaming.stream_dedup import (
        run_stream_to_memory, streaming_neardup_candidates,
    )

    src = _stream_neardup_fixture(spark, sf_dir, "5 HOURS", "stream_nd_entry_")
    static = spark.read.json(src)
    stream = spark.readStream.schema(static.schema).json(src)
    pairs = streaming_neardup_candidates(
        stream, min_est_jaccard=0.5, n_bucket_keys=8
    )
    name = run_stream_to_memory(pairs, "q_stream_neardup_out", "append")
    return spark.table(name).select("id_a", "id_b").distinct()


def q_stream_neardup_join(spark, sf_dir):
    """The r5 scale-path streaming operator
    (``streaming_neardup_join_candidates``): the SAME online candidate
    semantics as ``stream_neardup_candidates`` expressed as a native
    stream-stream self-join (JVM state store, KMV estimate as array
    expressions — zero Python in the loop; measured 3.7x the stateful
    op at 200k events). Rows-only (streaming) but SELF-CHECKING with
    the same two-sided oracle shape: pairwise-dissimilar md5-token
    docs, exactly three planted near-dups arriving 30 minutes after
    their sources — INSIDE the 60-minute join horizon, which the join
    enforces as a range predicate (the stateful op's TTL only evicts
    at batch boundaries, so its fixture plants 5 h gaps; here the gap
    must clear the predicate). Expected rows: exactly the 3 canonical
    pairs (d13, d13_dup), (d23, d23_dup), (d3, d3_dup)."""
    from sems_event_deduplication_spark.streaming.stream_dedup import (
        run_stream_to_memory, streaming_neardup_join_candidates,
    )

    src = _stream_neardup_fixture(spark, sf_dir, "30 MINUTES", "stream_ndj_entry_")
    static = spark.read.json(src)
    stream = spark.readStream.schema(static.schema).json(src)
    pairs = streaming_neardup_join_candidates(
        stream, min_est_jaccard=0.5, n_bucket_keys=8
    )
    name = run_stream_to_memory(pairs, "q_stream_ndjoin_out", "append")
    return spark.table(name).select("id_a", "id_b").distinct()


def q_hot_bucket_keys(spark, sf_dir):
    """Stop-list derivation for the streaming operators
    (``hot_bucket_keys``, the r5 hot-key shedding tier) in its
    DuckDB-checkable md5 twin: each normalized document's bottom-4
    distinct 9-shingle hashes ARE the streaming bucket keys
    (single-permutation bottom-k MinHash); report every key that >= 2
    documents would land on, i.e. every key that would hold any join
    state at all. Same operator code and key enumeration as production
    — only the hash is xxhash64 -> md5 so the oracle can recompute it
    (the int64 production path is pytest-covered in
    tests/test_streaming.py)."""
    from sems_event_deduplication_spark.streaming.stream_dedup import (
        hot_bucket_keys,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("transcript")
    )
    return hot_bucket_keys(
        d, n_bucket_keys=4, min_members=2, hash_fn=F.md5, hash_type="string"
    )


def q_audio_dedup_clusters(spark, sf_dir):
    """The flagship audio+text pipeline on the deterministic synthetic
    corpus (pandas/Arrow UDF path — not SQL-expressible), returned as a
    SELF-CHECKING result: one row per planted multi-member dup group
    that the pipeline recovered EXACTLY (its members form one component,
    and that component contains nothing else). The corpus sidecar
    ``group_id`` is the planted truth (synth.py). Any recall loss drops
    rows; any over-merge (two groups in one component) also drops rows —
    so the driver's row count is a real oracle.

    Expected rows: 64, stable across runs (corpus and pipeline are
    deterministic). The corpus plants 67 multi-member groups, of which
    exactly 64 are recoverable at the configured thresholds per the
    independent in-memory oracle (``tests/oracle_utils.oracle_components``
    — the rest contain an intentionally below-threshold variant); the
    pipeline recovering exactly those 64 is the recall=precision=1.0
    statement in row-count form. (Was 56 through round 4: the
    companding-robust fingerprint floor — functions/audio.py
    FP_FLOOR_DB — also stabilized 8 planted near-audio groups whose
    34-45 dB noise used to flip quiet-band bits past the Hamming
    threshold.)
    """
    import tempfile

    from sems_event_deduplication_spark.conf import DedupConfig
    from sems_event_deduplication_spark.plans.pipeline import DedupPipeline
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO
    from sems_event_deduplication_spark.synth import make_corpus

    cfg = DedupConfig()
    clips = make_corpus(spark, n_base=200, seed=42)
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_entry_"))
    DedupPipeline(spark, cfg, wh).run(clips, with_audio=True)
    members = wh.load_clean("components").select("clip_id", "component")
    truth = clips.select("clip_id", "group_id")
    j = members.join(truth, "clip_id")
    per_group = j.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.count_distinct("component").alias("n_comp"),
        F.min("component").alias("component"),
    )
    per_comp = j.groupBy("component").agg(
        F.count_distinct("group_id").alias("n_groups"),
        F.count(F.lit(1)).alias("comp_size"),
    )
    recovered = (
        per_group.filter(F.col("n_comp") == 1)
        .join(per_comp, "component")
        .filter(
            (F.col("n_groups") == 1)
            & (F.col("comp_size") == F.col("n_members"))
            & (F.col("n_members") >= 2)
        )
    )
    return recovered.select("group_id", "n_members").orderBy("group_id")


def q_audio_offset_pairs(spark, sf_dir):
    """Offset/containment audio dedup (Shazam-style landmark inverted
    index, operators/audio_segments.py): planted short clips embedded
    at arbitrary offsets inside longer hosts — not SQL-expressible
    (binary audio), rows-only check.

    SELF-CHECKING: exactly the 8 planted (short sNNNN, host hNNNN)
    pairs must come back — the ``planted`` column marks id-suffix
    agreement, and non-planted detections or misses change the row
    count. Expected rows: 8, all with planted = true, stable across
    runs (deterministic rng seed 11)."""
    import numpy as np
    import pandas as pd

    from sems_event_deduplication_spark.conf import DedupConfig
    from sems_event_deduplication_spark.operators.audio_segments import (
        audio_offset_pairs,
    )
    from sems_event_deduplication_spark.synth import _encode, _tone

    rng = np.random.default_rng(11)
    sr = 16000
    rows = []
    for i in range(30):
        clip = _tone(rng, sr, float(rng.uniform(1.0, 2.0)), n_partials=8)
        rows.append({"clip_id": f"s{i:04d}", "bytes": _encode(clip, "pcm_s16le"),
                     "codec": "pcm_s16le"})
        if i < 8:
            host = np.concatenate([
                _tone(rng, sr, float(rng.uniform(0.5, 1.5)), n_partials=8),
                clip,
                _tone(rng, sr, float(rng.uniform(0.5, 1.5)), n_partials=8),
            ])
            rows.append({"clip_id": f"h{i:04d}", "bytes": _encode(host, "pcm_s16le"),
                         "codec": "pcm_s16le"})
    df = spark.createDataFrame(pd.DataFrame(rows))
    return audio_offset_pairs(df, DedupConfig(), containment_threshold=0.8).select(
        "id_a", "id_b",
        F.round("containment", 6).alias("containment"),
        (
            (F.substring("id_a", 2, 4) == F.substring("id_b", 2, 4))
            & (F.substring("id_a", 1, 1) != F.substring("id_b", 1, 1))
        ).alias("planted"),
    )


def _scored_events(spark, sf_dir):
    """Deterministic label/prediction frame for the metrics queries:
    label = event_type, prediction = the user's previous event type
    (a lag-1 'persistence' predictor — a real confusion matrix)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("event_type").alias("label"),
        F.lag("event_type").over(w).alias("prediction"),
    ).filter(F.col("prediction").isNotNull())


def q_classification_report(spark, sf_dir):
    """A11 per-class P/R/F1 as groupBy arithmetic
    (reference scorer: models/EventPairwiseTemporalityEvaluator.py:81-99)."""
    from sems_event_deduplication_spark.operators.metrics import (
        classification_report,
    )

    rep = classification_report(_scored_events(spark, sf_dir))
    return rep.select(
        "class", "support", "tp", "n_pred",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def q_classification_summary(spark, sf_dir):
    """A11 aggregate metrics (accuracy, macro/micro/weighted P/R/F1)."""
    from sems_event_deduplication_spark.operators.metrics import (
        classification_summary,
    )

    s = classification_summary(_scored_events(spark, sf_dir))
    return s.select(
        *[
            F.round(c, 6).alias(c)
            for c in (
                "accuracy", "macro_precision", "macro_recall", "macro_f1",
                "weighted_precision", "weighted_recall", "weighted_f1",
                "micro_f1",
            )
        ],
        "n_classes", "n_rows",
    )


def q_event_type_daily_peaks(spark, sf_dir):
    """F16: daily event counts per type -> densify -> box low-pass ->
    local-max peak flags (reference crawl_from_gdelt.py:53-92)."""
    from sems_event_deduplication_spark.operators.timeseries import (
        daily_event_peaks,
    )

    out = daily_event_peaks(_t(spark, sf_dir, "events"), min_height=2.0)
    return out.select(
        "series", "day", "n",
        F.round("smoothed", 6).alias("smoothed"),
        "is_peak",
    )


def q_wikidata_event_claims(spark, sf_dir):
    """Nested-claims property extraction (reference get_events.py:19-44):
    entities synthesized deterministically from the events table (time
    under P585 or P580 by user parity, location under P131 / P276 / absent
    by user mod 3), decoded with the declared map schema, then walked
    with pure Catalyst exprs (element_at + getField + coalesce)."""
    from sems_event_deduplication_spark.sources.wikidata import (
        CLAIMS_TYPE, extract_event_claims,
    )

    ev = _t(spark, sf_dir, "events")
    tprop = F.when(F.pmod("user_id", F.lit(2)) == 0, "P585").otherwise("P580")
    lprop = F.when(F.pmod("user_id", F.lit(3)) == 0, F.lit("P131")).when(
        F.pmod("user_id", F.lit(3)) == 1, F.lit("P276")
    )
    snak_t = F.concat(
        F.lit('"'), tprop,
        F.lit('":[{"mainsnak":{"datavalue":{"value":{"time":"+'),
        F.date_format("ts", "yyyy-MM-dd"),
        F.lit('T00:00:00Z"}}}}]'),
    )
    snak_l = F.when(
        lprop.isNotNull(),
        F.concat(
            F.lit(',"'), lprop,
            F.lit('":[{"mainsnak":{"datavalue":{"value":{"id":"Q'),
            F.pmod("user_id", F.lit(97)).cast("string"),
            F.lit('"}}}}]'),
        ),
    ).otherwise(F.lit(""))
    entities = ev.select(
        F.concat(F.lit("E"), F.col("event_id").cast("string")).alias("id"),
        F.from_json(
            F.concat(F.lit("{"), snak_t, snak_l, F.lit("}")), CLAIMS_TYPE
        ).alias("claims"),
    )
    return extract_event_claims(entities)


def q_incremental_dedup(spark, sf_dir):
    """Incremental batch-vs-index dedup (operators/incremental.py): a
    synthetic batch of 10 exact copies ('x*'), 10 tail-edited rows
    ('m*', fixed-length appended tail so true Jaccard spans ~0.6-0.9 —
    the ones >= 0.8 are near dups, the shortest docs legitimately fall
    below the threshold and both engines classify them novel), and
    10 novel rows ('n*') deduped against the signed documents corpus.
    Output: (id_new, kind in exact|near|novel), 30 rows. The DuckDB
    oracle classifies by normalized-text equality and true shingle
    Jaccard >= t — so the LSH+verify path must agree with exhaustive
    truth, not just return rows. (The oracle does not model LSH band
    misses or the stop-bucket cap; at this scale no index bucket nears
    the cap and band-miss probability at the planted J values is
    ~1e-5, so exhaustive truth and the approximate path coincide by
    construction of the fixture.)"""
    from sems_event_deduplication_spark.conf import DedupConfig
    from sems_event_deduplication_spark.operators.incremental import (
        incremental_dedup, sign_batch,
    )

    cfg = DedupConfig(jaccard_threshold=0.8)
    raw = _t(spark, sf_dir, "documents")
    docs = raw.select(
        F.col("doc_id").cast("string").alias("clip_id"),
        F.col("text").alias("transcript"),
    )
    index_sigs = sign_batch(docs, cfg)
    exact_b = raw.filter(F.col("doc_id") < 10).select(
        F.concat(F.lit("x"), F.col("doc_id").cast("string")).alias("clip_id"),
        F.col("text").alias("transcript"),
    )
    near_b = (
        raw.filter((F.col("doc_id") >= 100) & (~F.col("text").contains("|")))
        .orderBy("doc_id").limit(10)
        .select(
            F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("clip_id"),
            F.concat(
                F.col("text"),
                F.lit(" extra tail words appended here for testing"),
            ).alias("transcript"),
        )
    )
    novel_b = spark.range(10).select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("clip_id"),
        F.concat(
            F.lit("zzqq unique nonsense kwxy vbnm plmo "),
            F.col("id").cast("string"),
        ).alias("transcript"),
    )
    batch = exact_b.unionByName(near_b).unionByName(novel_b)
    out = incremental_dedup(batch, index_sigs, cfg)
    exact_ids = out["exact_hits"].select(
        F.col("id_new"), F.lit("exact").alias("kind")
    )
    near_ids = (
        out["neardup_hits"].select("id_new").distinct()
        .select("id_new", F.lit("near").alias("kind"))
    )
    novel_ids = out["novel"].select(
        F.col("clip_id").alias("id_new"), F.lit("novel").alias("kind")
    )
    return exact_ids.unionByName(near_ids).unionByName(novel_ids)


def q_doc_components(spark, sf_dir):
    """G3 promoted to a full contract query: connected components over
    the SimHash near-dup edges (doc_id < 100, Hamming <= 3) via the
    large-star/small-star loop, checked against a DuckDB recursive-CTE
    transitive closure. component = min doc_id of the component;
    singleton docs map to themselves."""
    from sems_event_deduplication_spark.operators.components import (
        assign_components, connected_components,
    )

    pairs = q_simhash_hamming_pairs(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs, src="id_a", dst="id_b")
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
    )
    return assign_components(docs, comp, id_col="doc_id").select(
        "doc_id", "component"
    )


def q_cluster_merge(spark, sf_dir):
    """G5 second-level cluster merge, end to end: pseudo-clusters =
    (user, week-of-January), entities = event_type:floor(value)%10
    buckets, overlap = |A∩B|/max(|A|,|B|) >= 0.4 (reference's
    max-denominator rule), temporal gate = date intervals within 3
    days, transitive closure via CC. Oracle replays the identical rule
    in SQL with a recursive CTE."""
    from sems_event_deduplication_spark.operators.merge import merge_clusters

    e = _t(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))) / 7
    )
    base = e.select(
        (F.col("user_id") * 10 + week).cast("long").alias("component"),
        F.array(
            F.concat(
                F.col("event_type"),
                F.lit(":"),
                (F.floor("value").cast("long") % 10).cast("string"),
            )
        ).alias("entities"),
        F.to_date("ts").alias("event_date"),
    )
    merged = merge_clusters(
        base,
        min_entity_count=0,
        min_overlap=0.4,
        max_gap_days=3,
    )
    return merged.select("component", "merged_component").distinct()


def q_event_date_intersect(spark, sf_dir):
    """J6 date-set algebra: per user (< 20), days with BOTH a click and
    a purchase (intersect) and days with a click but NO purchase
    (except) — Spark ``intersect``/``subtract`` vs SQL INTERSECT/EXCEPT."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    both = clicks.intersect(purchases).withColumn("status", F.lit("both"))
    only = clicks.subtract(purchases).withColumn(
        "status", F.lit("click_only")
    )
    return both.unionByName(only)


def q_deterministic_split(spark, sf_dir):
    """F18 deterministic train/val/test split: pure hash-bucket
    assignment (first two hex chars of md5(doc_id || salt)), no global
    sort or rank — each row's split is a local function of its key, so
    the assignment is identical under any partitioning, any retry, and
    any engine. ~80/10/10 in expectation."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":seed42"))), 1, 2
    )
    split = (
        F.when(h < F.lit("cd"), F.lit("train"))
        .when(h < F.lit("e6"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", split.alias("split"))


def q_ann_topk_indexed(spark, sf_dir):
    """ANN probe against the persisted sign-bucket index layout
    (similarity.write_ann_index / ann_topk_indexed): 32 axis-sign bits
    (planes = I), low 8 bits as the partition column, Hamming radius 10
    prefilter, exact-cosine re-rank of survivors. The oracle applies
    the identical sign-signature filter + cosine in SQL, so the probe
    must return exactly the brute-force answer *restricted to the
    bucket-radius candidate set* — the recall contract of the index."""
    import numpy as np

    from sems_event_deduplication_spark.operators.similarity import (
        ann_topk_indexed, write_ann_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    planes = np.eye(32)
    path = _scratch_index_dir("ann", sf_dir)
    write_ann_index(
        e.filter(F.col("vec_id") != 0), path, planes, p_bits=8
    )
    return ann_topk_indexed(
        spark, path, qvec, planes, k=10, hamming_radius=10, p_bits=8
    )


def q_token_count(spark, sf_dir):
    """Token counting (training-pipeline op, textstats.token_count):
    whitespace word tokens + punctuation runs as a BPE-ish upper
    bound."""
    from sems_event_deduplication_spark.operators.textstats import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_dbscan_user_segments(spark, sf_dir):
    """W2/G4 promoted to a full contract query: exact 1-D DBSCAN
    (eps = 1 day, min_samples = 3) over each user's purchase days —
    core days by RANGE-window neighbor counts, core chaining, border
    attachment (nearest core, ties -> earlier), noise = unattached.
    Output per user: segment count, noise rows, largest segment size."""
    from sems_event_deduplication_spark.operators.temporal import (
        dbscan_1d_segments,
    )

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("event_date"))
    )
    seg = dbscan_1d_segments(
        e, cluster_col="user_id", date_col="event_date",
        eps_days=1, min_samples=3,
    )
    per_seg = (
        seg.filter(F.col("segment").isNotNull())
        .groupBy("user_id", "segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seg_stats = per_seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.max("n").alias("max_segment_rows"),
    )
    noise = seg.groupBy("user_id").agg(
        F.sum(F.when(F.col("segment").isNull(), 1).otherwise(0)).alias(
            "n_noise"
        )
    )
    return (
        noise.join(seg_stats, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
            F.col("n_noise").cast("long").alias("n_noise"),
            F.coalesce("max_segment_rows", F.lit(0)).cast("long").alias(
                "max_segment_rows"
            ),
        )
    )


def q_embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup detection: all vector pairs with
    cosine >= 0.4 (rounded to 6 dp on both engines so the threshold
    cut is identical). Exact all-pairs here (500 vectors at contract
    scale); at 100 TB the same decision runs behind the sign-bucket
    LSH prefilter / partitioned ANN index (operators/similarity.py) —
    the `ann_topk_indexed` contract query checks that path's recall
    contract."""
    from sems_event_deduplication_spark.operators.similarity import dot

    e = _t(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va"))) * F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
    )


def q_multimodal_image_features(spark, sf_dir):
    """Multimodal binary-column plumbing, oracle-checked end to end:
    a deterministic fake image per document (header-encoded dims, raw
    RGB body — operators/multimodal.py's stub format) flows through the
    real mapInPandas decode/feature path, and the video-frame sampling
    expansion runs JVM-side over dur_ms = n_chars*10. The decoded
    dims/channels/decode_ok and the frame count are pure functions of
    doc_id/n_chars, so DuckDB arithmetic verifies the whole plumbing
    (the histogram feature itself is pytest-covered, not part of the
    contract output)."""
    from sems_event_deduplication_spark.operators.multimodal import (
        frame_sample_plan, image_features,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            F.col("doc_id").cast("string").alias("item_id"),
            (F.lit(4) + F.col("doc_id") % 8).cast("int").alias("w"),
            (F.lit(4) + F.col("doc_id") % 5).cast("int").alias("h"),
            (F.col("n_chars") * 10).cast("int").alias("dur_ms"),
        )
    )

    @F.pandas_udf("binary")
    def fake_image(w: pd.Series, h: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for wi, hi in zip(w, h):
            body = (np.arange(int(wi) * int(hi) * 3) % 256).astype(np.uint8)
            out.append(
                int(wi).to_bytes(4, "little")
                + int(hi).to_bytes(4, "little")
                + body.tobytes()
            )
        return pd.Series(out)

    imgs = d.withColumn("bytes", fake_image("w", "h")).withColumn(
        "fmt", F.lit("fake_rgb")
    )
    feats = image_features(imgs).select(
        "item_id", "width", "height", "n_channels", "decode_ok"
    )
    frames = (
        frame_sample_plan(d.select("item_id", "dur_ms"), every_ms=500)
        .groupBy("item_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    return feats.join(frames, "item_id")


def q_ivf_topk(spark, sf_dir):
    """IVF ANN probe (similarity.build_ivf_centroids / write_ivf_index /
    ivf_topk): deterministic spherical-k-means cells as parquet
    partitions, probe-all (nprobe = n_cells) so the result must equal
    the brute-force cosine top-10 for vec_id=1 — the oracle is exact
    SQL. Partial-probe recall (the actual ANN operating point) is
    pytest-covered."""
    from sems_event_deduplication_spark.operators.similarity import (
        build_ivf_centroids, ivf_topk, write_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    ]
    cents = build_ivf_centroids(e, n_cells=8, seed=7, sample_n=256, iters=5)
    path = _scratch_index_dir("ivf", sf_dir)
    write_ivf_index(e.filter(F.col("vec_id") != 1), path, cents)
    return ivf_topk(spark, path, qvec, cents, k=10, nprobe=len(cents))


def q_silver_labels(spark, sf_dir):
    """G6 + A7 end to end: pseudo-clusters = users restricted to their
    sparse high-value events (value > 200), silver label = majority
    event_type per cluster (ties -> lexicographic min), and clusters
    whose ONLY type is 'error' (out-of-scope) are dropped by the A7
    group-predicate anti-join. Output one row per surviving cluster."""
    from sems_event_deduplication_spark.operators.silver import (
        drop_all_oos_clusters, silver_labels,
    )

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value") > 200)
        .select(
            F.col("user_id").alias("merged_component"),
            F.col("event_type").alias("pred_event_type"),
        )
    )
    kept = drop_all_oos_clusters(e, oos_label="error")
    labeled = silver_labels(kept)
    return labeled.select(
        F.col("merged_component").alias("user_id"), "silver_label"
    ).distinct()


def _g711_reference_rows() -> list[tuple[int, int, int]]:
    """Independent pure-int ITU-T G.711 decode (the Sun g711.c
    expansion written as scalar Python, NOT the engine's vectorized
    numpy tables) — the oracle side of ``g711_decode_table``. Two
    implementations of the published standard must agree byte for
    byte."""
    rows = []
    for u in range(256):
        uc = (~u) & 0xFF
        t = (((uc & 0x0F) << 3) + 0x84) << ((uc & 0x70) >> 4)
        mu = (0x84 - t) if (uc & 0x80) else (t - 0x84)
        a = u ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        al = t if (a & 0x80) else -t
        rows.append((u, mu, al))
    return rows


def q_g711_decode_table(spark, sf_dir):
    """Engine-addition evidence: the G.711 mu-law/A-law decode path
    (``functions/audio.decode_pcm`` through the vectorized numpy
    tables) evaluated for every possible byte, exercised through the
    SAME Arrow pandas_udf machinery the signature stage uses. The
    DuckDB oracle is an independent scalar-int implementation of the
    published expansion (``_g711_reference_rows``) inlined as a VALUES
    table — a real cross-check of two codebases against one standard,
    hash-compared by the driver."""
    import pandas as pd
    from pyspark.sql import types as T

    from sems_event_deduplication_spark.functions.audio import decode_pcm

    @F.pandas_udf(T.IntegerType())
    def dec(vals: pd.Series, codec: pd.Series) -> pd.Series:
        out = []
        for v, c in zip(vals, codec):
            pcm = decode_pcm(bytes([int(v)]), c)
            out.append(int(round(float(pcm[0]) * 32768.0)))
        return pd.Series(out)

    return (
        spark.range(0, 256)
        .select(
            F.col("id").cast("int").alias("byte_value"),
            dec(F.col("id"), F.lit("pcm_mulaw")).alias("mulaw_i16"),
            dec(F.col("id"), F.lit("pcm_alaw")).alias("alaw_i16"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup_keeplast": q_exact_dedup_keeplast,
        "normalize_remove_stick": q_normalize_remove_stick,
        "shingle_count": q_shingle_count,
        "minhash_md5_signature": q_minhash_md5_signature,
        "jaccard_pairs_topk": q_jaccard_pairs_topk,
        "text_simhash": q_text_simhash,
        "simhash_hamming_pairs": q_simhash_hamming_pairs,
        "lang_source_counts": q_lang_source_counts,
        "mode_event_type_per_user": q_mode_event_type_per_user,
        "session_count_per_user": q_session_count_per_user,
        "orders_within_week": q_orders_within_week,
        "date_coverage": q_date_coverage,
        "lineitem_agg": q_lineitem_agg,
        "top_order_per_cust": q_top_order_per_cust,
        "revenue_by_segment": q_revenue_by_segment,
        "embedding_cosine_topk": q_embedding_cosine_topk,
        "embedding_sign_bits": q_embedding_sign_bits,
        "text_quality": q_text_quality,
        "doc_fingerprint": q_doc_fingerprint,
        "user_activity_buckets": q_user_activity_buckets,
        "keep_last_event_per_user": q_keep_last_event_per_user,
        "source_entity_overlap": q_source_entity_overlap,
        "user_type_entropy": q_user_type_entropy,
        "lang_id_heuristic": q_lang_id_heuristic,
        "stream_event_counts": q_stream_event_counts,
        "stream_neardup_candidates": q_stream_neardup_candidates,
        "stream_neardup_join": q_stream_neardup_join,
        "hot_bucket_keys": q_hot_bucket_keys,
        "audio_dedup_clusters": q_audio_dedup_clusters,
        "audio_offset_pairs": q_audio_offset_pairs,
        "classification_report": q_classification_report,
        "classification_summary": q_classification_summary,
        "event_type_daily_peaks": q_event_type_daily_peaks,
        "wikidata_event_claims": q_wikidata_event_claims,
        "incremental_dedup": q_incremental_dedup,
        "doc_components": q_doc_components,
        "cluster_merge": q_cluster_merge,
        "event_date_intersect": q_event_date_intersect,
        "deterministic_split": q_deterministic_split,
        "ann_topk_indexed": q_ann_topk_indexed,
        "token_count": q_token_count,
        "dbscan_user_segments": q_dbscan_user_segments,
        "embedding_neardup_pairs": q_embedding_neardup_pairs,
        "multimodal_image_features": q_multimodal_image_features,
        "ivf_topk": q_ivf_topk,
        "silver_labels": q_silver_labels,
        "g711_decode_table": q_g711_decode_table,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_NORM = (
    "trim(regexp_replace(regexp_replace("
    "list_reduce(list_transform(string_split(lower({src}), '|'), p -> trim(p)),"
    " (a, b) -> CASE WHEN length(b) > length(a) THEN b ELSE a END),"
    " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)

_SIMHASH_SQL = """
            WITH toks AS (
              SELECT d.doc_id, t.w FROM documents d,
                   unnest(string_split(lower(d.text), ' ')) AS t(w)
              WHERE t.w <> ''
            ), votes AS (
              SELECT doc_id,
                   sum(CASE WHEN substring(md5(w), 1, 1) >= '8' THEN 1 ELSE -1 END) AS b0,
                   sum(CASE WHEN substring(md5(w), 2, 1) >= '8' THEN 1 ELSE -1 END) AS b1,
                   sum(CASE WHEN substring(md5(w), 3, 1) >= '8' THEN 1 ELSE -1 END) AS b2,
                   sum(CASE WHEN substring(md5(w), 4, 1) >= '8' THEN 1 ELSE -1 END) AS b3,
                   sum(CASE WHEN substring(md5(w), 5, 1) >= '8' THEN 1 ELSE -1 END) AS b4,
                   sum(CASE WHEN substring(md5(w), 6, 1) >= '8' THEN 1 ELSE -1 END) AS b5,
                   sum(CASE WHEN substring(md5(w), 7, 1) >= '8' THEN 1 ELSE -1 END) AS b6,
                   sum(CASE WHEN substring(md5(w), 8, 1) >= '8' THEN 1 ELSE -1 END) AS b7,
                   sum(CASE WHEN substring(md5(w), 9, 1) >= '8' THEN 1 ELSE -1 END) AS b8,
                   sum(CASE WHEN substring(md5(w), 10, 1) >= '8' THEN 1 ELSE -1 END) AS b9,
                   sum(CASE WHEN substring(md5(w), 11, 1) >= '8' THEN 1 ELSE -1 END) AS b10,
                   sum(CASE WHEN substring(md5(w), 12, 1) >= '8' THEN 1 ELSE -1 END) AS b11,
                   sum(CASE WHEN substring(md5(w), 13, 1) >= '8' THEN 1 ELSE -1 END) AS b12,
                   sum(CASE WHEN substring(md5(w), 14, 1) >= '8' THEN 1 ELSE -1 END) AS b13,
                   sum(CASE WHEN substring(md5(w), 15, 1) >= '8' THEN 1 ELSE -1 END) AS b14,
                   sum(CASE WHEN substring(md5(w), 16, 1) >= '8' THEN 1 ELSE -1 END) AS b15
              FROM toks GROUP BY doc_id
            )
            SELECT doc_id, (CASE WHEN b0 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b1 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b2 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b3 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b4 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b5 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b6 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b7 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b8 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b9 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b10 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b11 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b12 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b13 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b14 > 0 THEN '1' ELSE '0' END) || (CASE WHEN b15 > 0 THEN '1' ELSE '0' END) AS simhash16 FROM votes
"""

_SIMHASH_HAM = "(CASE WHEN substring(a.simhash16, 1, 1) <> substring(b.simhash16, 1, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 2, 1) <> substring(b.simhash16, 2, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 3, 1) <> substring(b.simhash16, 3, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 4, 1) <> substring(b.simhash16, 4, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 5, 1) <> substring(b.simhash16, 5, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 6, 1) <> substring(b.simhash16, 6, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 7, 1) <> substring(b.simhash16, 7, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 8, 1) <> substring(b.simhash16, 8, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 9, 1) <> substring(b.simhash16, 9, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 10, 1) <> substring(b.simhash16, 10, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 11, 1) <> substring(b.simhash16, 11, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 12, 1) <> substring(b.simhash16, 12, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 13, 1) <> substring(b.simhash16, 13, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 14, 1) <> substring(b.simhash16, 14, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 15, 1) <> substring(b.simhash16, 15, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(a.simhash16, 16, 1) <> substring(b.simhash16, 16, 1) THEN 1 ELSE 0 END)"

# mirrors functions/text.char_shingles exactly: distinct 9-grams, whole
# string when 0 < len < 9, nothing when empty; the offset series bound is
# far above any document length so long docs are never under-shingled
_SHINGLES = (
    "SELECT DISTINCT doc_id, sh FROM ("
    "SELECT d.doc_id, substring(d.text, CAST(n.i AS INT), 9) AS sh "
    "FROM documents d JOIN (SELECT unnest(generate_series(1, 100000)) AS i) n "
    "ON n.i <= length(d.text) - 8 "
    "UNION ALL "
    "SELECT doc_id, text AS sh FROM documents "
    "WHERE length(text) BETWEEN 1 AND 8)"
)

# shared scored-events confusion matrix for the A11 metrics oracles:
# label = event_type, prediction = the user's previous event type
_CLS_CONFUSION = """
    SELECT class, support, tp, n_pred,
           CASE WHEN n_pred > 0 THEN 1.0 * tp / n_pred ELSE 0 END AS precision,
           CASE WHEN support > 0 THEN 1.0 * tp / support ELSE 0 END AS recall
    FROM (
      WITH scored AS (
        SELECT event_type AS label,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prediction
        FROM events),
      s2 AS (SELECT * FROM scored WHERE prediction IS NOT NULL),
      by_label AS (
        SELECT label AS class, count(*) AS support,
               CAST(sum(CASE WHEN prediction = label THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp
        FROM s2 GROUP BY 1),
      by_pred AS (
        SELECT prediction AS class, count(*) AS n_pred FROM s2 GROUP BY 1)
      SELECT coalesce(l.class, p.class) AS class,
             coalesce(l.support, 0) AS support,
             coalesce(l.tp, 0) AS tp,
             coalesce(p.n_pred, 0) AS n_pred
      FROM by_label l FULL OUTER JOIN by_pred p ON l.class = p.class)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dedup_keeplast": """
            SELECT doc_id, n_chars FROM (
              SELECT doc_id, n_chars,
                     row_number() OVER (PARTITION BY substring(text, 1, 16)
                                        ORDER BY doc_id DESC) AS rn
              FROM documents) WHERE rn = 1
        """,
        "normalize_remove_stick": f"""
            SELECT doc_id, {_NORM.format(src="text || ' | Breaking, News!'")} AS norm_text
            FROM documents
        """,
        "shingle_count": f"""
            SELECT doc_id, count(*) AS n_shingles FROM ({_SHINGLES}) GROUP BY doc_id
        """,
        "minhash_md5_signature": f"""
            SELECT doc_id,
                   min(md5('0:' || sh)) AS slot_0,
                   min(md5('1:' || sh)) AS slot_1,
                   min(md5('2:' || sh)) AS slot_2,
                   min(md5('3:' || sh)) AS slot_3
            FROM ({_SHINGLES}) GROUP BY doc_id
        """,
        # hot_bucket_keys md5 twin: normalize -> distinct 9-shingle md5s
        # -> bottom-4 per doc (the streaming bucket keys) -> per-key doc
        # count, keys with >= 2 members. Mirrors _sketch_expr's len<k
        # whole-string branch and drops len=0 docs, like the operator.
        # Same generate_series bound convention as _SHINGLES: 100k
        # positions is far above any driver-table document length (the
        # 9 in substring/-8 is the shared shingle size K).
        "hot_bucket_keys": f"""
            WITH norm AS (
              SELECT doc_id, {_NORM.format(src="text")} AS t FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, md5(sh) AS h FROM (
                SELECT n0.doc_id, substring(n0.t, CAST(i.i AS INT), 9) AS sh
                FROM norm n0
                JOIN (SELECT unnest(generate_series(1, 100000)) AS i) i
                  ON i.i <= length(n0.t) - 8
                UNION ALL
                SELECT doc_id, t AS sh FROM norm
                WHERE length(t) BETWEEN 1 AND 8)
            ), botn AS (
              SELECT doc_id, h FROM (
                SELECT doc_id, h,
                       row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
                FROM sh) WHERE rn <= 4
            )
            SELECT h AS bucket_key, count(*) AS n_members
            FROM botn GROUP BY 1 HAVING count(*) >= 2
            ORDER BY n_members DESC, bucket_key
        """,
        "text_simhash": f"""{_SIMHASH_SQL}
        """,
        "simhash_hamming_pairs": f"""
            WITH sims AS ({_SIMHASH_SQL.replace("FROM documents d", "FROM (SELECT * FROM documents WHERE doc_id < 100) d")})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ({_SIMHASH_HAM}) AS hamming
            FROM sims a JOIN sims b ON a.doc_id < b.doc_id
            WHERE ({_SIMHASH_HAM}) <= 3
        """,
        "jaccard_pairs_topk": f"""
            WITH sh AS ({_SHINGLES.replace("FROM documents d", "FROM (SELECT * FROM documents WHERE doc_id < 60) d")}),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            ORDER BY jaccard DESC, id_a, id_b LIMIT 20
        """,
        "lang_source_counts": """
            SELECT lang, source, count(*) AS n_docs FROM documents
            WHERE lang <> 'zh' GROUP BY 1, 2
        """,
        "mode_event_type_per_user": """
            SELECT user_id, event_type AS mode_event_type, n FROM (
              SELECT user_id, event_type, count(*) AS n,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY count(*) DESC, event_type) AS rn
              FROM events GROUP BY user_id, event_type) WHERE rn = 1
        """,
        "session_count_per_user": """
            SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions FROM (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events) GROUP BY user_id
        """,
        "orders_within_week": """
            SELECT a.o_custkey AS custkey, a.o_orderkey AS k_a, b.o_orderkey AS k_b
            FROM orders a JOIN orders b
              ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
             AND abs(date_diff('day', CAST(a.o_orderdate AS DATE), CAST(b.o_orderdate AS DATE))) <= 7
            WHERE a.o_custkey < 50
        """,
        "date_coverage": """
            SELECT o_orderpriority, count(DISTINCT day) AS n_days FROM (
              SELECT o_orderpriority,
                     unnest(generate_series(CAST(o_orderdate AS DATE),
                                            CAST(o_orderdate AS DATE) + INTERVAL 3 DAY,
                                            INTERVAL 1 DAY)) AS day
              FROM orders) GROUP BY 1
        """,
        "lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "top_order_per_cust": """
            SELECT o_custkey, o_orderkey FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders WHERE o_custkey < 200) WHERE rn = 1
        """,
        "revenue_by_segment": """
            SELECT c_mktsegment,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "embedding_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            expl AS (
              SELECT v.vec_id,
                     CAST(v.embedding[CAST(n.i AS INT)] AS DOUBLE) AS x,
                     CAST(q.qv[CAST(n.i AS INT)] AS DOUBLE) AS y
              FROM embeddings v, q,
                   (SELECT unnest(generate_series(1, 10000)) AS i) n
              WHERE v.vec_id <> 0 AND n.i <= len(v.embedding))
            SELECT vec_id,
                   round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cosine
            FROM expl GROUP BY vec_id
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "embedding_sign_bits": """
            SELECT vec_id,
                   CAST(sum(CASE WHEN embedding[CAST(n.i AS INT)] > 0
                                 THEN CAST(2 AS BIGINT) ** (n.i - 1) ELSE 0 END) AS BIGINT) AS sig32
            FROM embeddings, (SELECT unnest(generate_series(1, 32)) AS i) n
            GROUP BY vec_id
        """,
        "text_quality": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
              FROM documents)
            SELECT doc_id,
                   len(words) AS n_words,
                   round(CAST(len(list_filter(words, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE) / greatest(len(words), 1), 6) AS stopword_ratio,
                   CASE WHEN len(words) >= 60 THEN 'long'
                        WHEN len(words) >= 30 THEN 'medium'
                        ELSE 'short' END AS len_bucket
            FROM w
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
            FROM documents
        """,
        "user_activity_buckets": """
            SELECT user_id, count(*) AS n_events,
                   CASE WHEN count(*) > 80 THEN 'large'
                        WHEN count(*) >= 60 THEN 'medium'
                        ELSE 'small' END AS bucket
            FROM events GROUP BY user_id
        """,
        "keep_last_event_per_user": """
            SELECT user_id, event_id FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1
        """,
        "user_type_entropy": """
            WITH c AS (SELECT user_id, event_type, count(*) AS n
                       FROM events GROUP BY 1, 2),
            t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1)
            SELECT c.user_id, round(sum(-(n / tot) * log2(n / tot)), 6) AS entropy
            FROM c JOIN t USING (user_id) GROUP BY c.user_id
        """,
        "lang_id_heuristic": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS words
              FROM documents),
            s AS (
              SELECT doc_id,
                     len(list_filter(words, t -> t IN ('der','die','und','das','ist','nicht','ein','mit'))) / greatest(len(words), 1) AS s_de,
                     len(list_filter(words, t -> t IN ('the','and','of','to','in','is','that','for'))) / greatest(len(words), 1) AS s_en,
                     len(list_filter(words, t -> t IN ('el','la','los','que','de','en','un','por'))) / greatest(len(words), 1) AS s_es,
                     len(list_filter(words, t -> t IN ('le','la','les','des','est','une','dans','pour'))) / greatest(len(words), 1) AS s_fr
              FROM w)
            SELECT doc_id,
                   CASE WHEN s_de > 0.05 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                        WHEN s_en > 0.05 AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                        WHEN s_es > 0.05 AND s_es >= s_fr THEN 'es'
                        WHEN s_fr > 0.05 THEN 'fr'
                        ELSE 'und' END AS pred_lang
            FROM s
        """,
        "source_entity_overlap": """
            WITH words AS (
              SELECT source, unnest(list_filter(string_split(text, ' '),
                                                t -> length(t) >= 5)) AS w
              FROM documents),
            freq AS (
              SELECT source, w, count(*) AS cnt FROM words
              GROUP BY 1, 2 HAVING count(*) > 4),
            sizes AS (SELECT source, count(*) AS n FROM freq GROUP BY source),
            inter AS (
              SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
              FROM freq a JOIN freq b ON a.w = b.w AND a.source < b.source
              GROUP BY 1, 2)
            SELECT src_a, src_b,
                   round(n_inter / greatest(sa.n, sb.n), 6) AS overlap
            FROM inter
            JOIN sizes sa ON sa.source = src_a
            JOIN sizes sb ON sb.source = src_b
            WHERE round(n_inter / greatest(sa.n, sb.n), 6) >= 0.5
        """,
        "classification_report": f"""
            WITH m AS ({_CLS_CONFUSION})
            SELECT class, support, tp, n_pred,
                   round(precision, 6) AS precision,
                   round(recall, 6) AS recall,
                   round(CASE WHEN precision + recall > 0
                         THEN 2 * precision * recall / (precision + recall)
                         ELSE 0 END, 6) AS f1
            FROM m
        """,
        "classification_summary": f"""
            WITH m AS ({_CLS_CONFUSION}),
            f AS (SELECT *,
                   CASE WHEN precision + recall > 0
                        THEN 2 * precision * recall / (precision + recall)
                        ELSE 0 END AS f1 FROM m)
            SELECT round(1.0 * sum(tp) / sum(support), 6) AS accuracy,
                   round(avg(precision), 6) AS macro_precision,
                   round(avg(recall), 6) AS macro_recall,
                   round(avg(f1), 6) AS macro_f1,
                   round(sum(precision * support) / sum(support), 6) AS weighted_precision,
                   round(sum(recall * support) / sum(support), 6) AS weighted_recall,
                   round(sum(f1 * support) / sum(support), 6) AS weighted_f1,
                   round(1.0 * sum(tp) / sum(support), 6) AS micro_f1,
                   count(*) AS n_classes,
                   CAST(sum(support) AS BIGINT) AS n_rows
            FROM f
        """,
        "event_type_daily_peaks": """
            WITH counts AS (
              SELECT event_type AS series, CAST(ts AS DATE) AS day,
                     count(*) AS n
              FROM events GROUP BY 1, 2),
            spans AS (SELECT series, min(day) AS d0, max(day) AS d1
                      FROM counts GROUP BY 1),
            grid AS (
              SELECT series,
                     CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                 CAST(d1 AS TIMESTAMP),
                                                 INTERVAL 1 DAY)) AS DATE) AS day
              FROM spans),
            dense AS (
              SELECT g.series, g.day, coalesce(c.n, 0) AS n
              FROM grid g LEFT JOIN counts c
                ON c.series = g.series AND c.day = g.day),
            sm AS (
              SELECT series, day, n,
                     avg(1.0 * n) OVER (PARTITION BY series ORDER BY day
                                        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                       AS smoothed
              FROM dense),
            pk AS (
              SELECT series, day, n, smoothed,
                     lag(smoothed) OVER w AS prev,
                     lead(smoothed) OVER w AS nxt
              FROM sm WINDOW w AS (PARTITION BY series ORDER BY day))
            SELECT series, day, n, round(smoothed, 6) AS smoothed,
                   (prev IS NOT NULL AND nxt IS NOT NULL
                    AND smoothed > prev AND smoothed >= nxt
                    AND smoothed >= 2.0) AS is_peak
            FROM pk
        """,
        "wikidata_event_claims": """
            WITH src AS (
              SELECT 'E' || CAST(event_id AS VARCHAR) AS entity_id,
                     CASE WHEN user_id % 2 = 0 THEN 'P585' ELSE 'P580' END AS tprop,
                     CASE WHEN user_id % 3 = 0 THEN 'P131'
                          WHEN user_id % 3 = 1 THEN 'P276' END AS lprop,
                     strftime(ts, '%Y-%m-%d') AS d,
                     CAST(user_id % 97 AS VARCHAR) AS qid
              FROM events),
            js AS (
              SELECT entity_id,
                     '{"' || tprop
                     || '":[{"mainsnak":{"datavalue":{"value":{"time":"+'
                     || d || 'T00:00:00Z"}}}}]'
                     || CASE WHEN lprop IS NOT NULL THEN
                          ',"' || lprop
                          || '":[{"mainsnak":{"datavalue":{"value":{"id":"Q'
                          || qid || '"}}}}]'
                        ELSE '' END
                     || '}' AS claims
              FROM src),
            ex AS (
              SELECT entity_id,
                     coalesce(
                       json_extract_string(claims, '$.P585[0].mainsnak.datavalue.value.time'),
                       json_extract_string(claims, '$.P580[0].mainsnak.datavalue.value.time'),
                       json_extract_string(claims, '$.P582[0].mainsnak.datavalue.value.time'),
                       json_extract_string(claims, '$.P577[0].mainsnak.datavalue.value.time')
                     ) AS event_time,
                     coalesce(
                       json_extract_string(claims, '$.P131[0].mainsnak.datavalue.value.id'),
                       json_extract_string(claims, '$.P276[0].mainsnak.datavalue.value.id'),
                       json_extract_string(claims, '$.P17[0].mainsnak.datavalue.value.id')
                     ) AS location_id
              FROM js)
            SELECT entity_id, event_time,
                   try_cast(regexp_extract(event_time,
                       '^\\+?(\\d{4}-\\d{2}-\\d{2})', 1) AS DATE) AS event_date,
                   location_id
            FROM ex
            WHERE event_time IS NOT NULL OR location_id IS NOT NULL
        """,
        "incremental_dedup": f"""
            WITH bsrc AS (
              SELECT 'x' || CAST(doc_id AS VARCHAR) AS id_new, text
              FROM documents WHERE doc_id < 10
              UNION ALL
              SELECT 'm' || CAST(doc_id AS VARCHAR),
                     text || ' extra tail words appended here for testing'
              FROM (SELECT doc_id, text FROM documents
                    WHERE doc_id >= 100 AND strpos(text, '|') = 0
                    ORDER BY doc_id LIMIT 10)
              UNION ALL
              SELECT 'n' || CAST(i AS VARCHAR),
                     'zzqq unique nonsense kwxy vbnm plmo ' || CAST(i AS VARCHAR)
              FROM (SELECT unnest(generate_series(0, 9)) AS i)
            ),
            bnorm AS (SELECT id_new, {_NORM.format(src='text')} AS norm FROM bsrc),
            inorm AS (SELECT doc_id, {_NORM.format(src='text')} AS norm FROM documents),
            exact AS (
              SELECT DISTINCT b.id_new FROM bnorm b JOIN inorm i ON b.norm = i.norm),
            bsh AS (
              SELECT DISTINCT id_new, sh FROM (
                SELECT b.id_new, substring(b.norm, CAST(n.i AS INT), 9) AS sh
                FROM bnorm b JOIN (SELECT unnest(generate_series(1, 100000)) AS i) n
                  ON n.i <= length(b.norm) - 8
                UNION ALL
                SELECT id_new, norm AS sh FROM bnorm
                WHERE length(norm) BETWEEN 1 AND 8)
              WHERE id_new NOT IN (SELECT id_new FROM exact)),
            ish AS (
              SELECT DISTINCT doc_id, sh FROM (
                SELECT d.doc_id, substring(d.norm, CAST(n.i AS INT), 9) AS sh
                FROM inorm d JOIN (SELECT unnest(generate_series(1, 100000)) AS i) n
                  ON n.i <= length(d.norm) - 8
                UNION ALL
                SELECT doc_id, norm AS sh FROM inorm
                WHERE length(norm) BETWEEN 1 AND 8)),
            bs AS (SELECT id_new, count(*) AS nb FROM bsh GROUP BY 1),
            isz AS (SELECT doc_id, count(*) AS ni FROM ish GROUP BY 1),
            inter AS (
              SELECT b.id_new, i.doc_id, count(*) AS n_inter
              FROM bsh b JOIN ish i ON b.sh = i.sh GROUP BY 1, 2),
            near AS (
              SELECT DISTINCT t.id_new
              FROM inter t
              JOIN bs ON bs.id_new = t.id_new
              JOIN isz ON isz.doc_id = t.doc_id
              WHERE 1.0 * n_inter / (nb + ni - n_inter) >= 0.8)
            SELECT b.id_new,
                   CASE WHEN b.id_new IN (SELECT id_new FROM exact) THEN 'exact'
                        WHEN b.id_new IN (SELECT id_new FROM near) THEN 'near'
                        ELSE 'novel' END AS kind
            FROM bnorm b
        """,
        "doc_components": f"""
            WITH RECURSIVE sims AS ({_SIMHASH_SQL.replace("FROM documents d", "FROM (SELECT * FROM documents WHERE doc_id < 100) d")}),
            pairs AS (
              SELECT a.doc_id AS u, b.doc_id AS v
              FROM sims a JOIN sims b ON a.doc_id < b.doc_id
              WHERE ({_SIMHASH_HAM}) <= 3),
            edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
            reach AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
              WHERE e.v <> r.u),
            comp AS (
              SELECT u AS doc_id, least(u, min(v)) AS component
              FROM reach GROUP BY u)
            SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
            FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
            LEFT JOIN comp c USING (doc_id)
        """,
        "cluster_merge": """
            WITH RECURSIVE base AS (
              SELECT (user_id * 10
                      + CAST(floor(date_diff('day', DATE '2024-01-01',
                                             CAST(ts AS DATE)) / 7.0) AS BIGINT)
                     ) AS component,
                     event_type || ':' ||
                       CAST(CAST(floor(value) AS BIGINT) % 10 AS VARCHAR) AS entity,
                     CAST(ts AS DATE) AS d
              FROM events),
            ents AS (
              SELECT component, entity FROM base
              GROUP BY 1, 2 HAVING count(*) > 0),
            sizes AS (SELECT component, count(*) AS n FROM ents GROUP BY 1),
            inter AS (
              SELECT a.component AS ca, b.component AS cb, count(*) AS n_inter
              FROM ents a JOIN ents b
                ON a.entity = b.entity AND a.component < b.component
              GROUP BY 1, 2),
            ov AS (
              SELECT ca, cb FROM inter
              JOIN sizes sa ON sa.component = ca
              JOIN sizes sb ON sb.component = cb
              WHERE 1.0 * n_inter / greatest(sa.n, sb.n) >= 0.4),
            spans AS (SELECT component, min(d) AS mn, max(d) AS mx FROM base GROUP BY 1),
            edges0 AS (
              SELECT ca, cb FROM ov
              JOIN spans a ON a.component = ca
              JOIN spans b ON b.component = cb
              WHERE a.mn <= b.mx + INTERVAL 3 DAY
                AND b.mn <= a.mx + INTERVAL 3 DAY),
            edges AS (SELECT ca AS u, cb AS v FROM edges0
                      UNION ALL SELECT cb, ca FROM edges0),
            reach AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
              WHERE e.v <> r.u),
            comp AS (
              SELECT u AS component, least(u, min(v)) AS merged_component
              FROM reach GROUP BY u)
            SELECT c.component,
                   coalesce(mc.merged_component, c.component) AS merged_component
            FROM (SELECT DISTINCT component FROM base) c
            LEFT JOIN comp mc USING (component)
        """,
        "event_date_intersect": """
            WITH clicks AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
              WHERE user_id < 20 AND event_type = 'click'),
            purchases AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
              WHERE user_id < 20 AND event_type = 'purchase')
            SELECT user_id, d, 'both' AS status
            FROM (SELECT * FROM clicks INTERSECT SELECT * FROM purchases)
            UNION ALL
            SELECT user_id, d, 'click_only' AS status
            FROM (SELECT * FROM clicks EXCEPT SELECT * FROM purchases)
        """,
        "deterministic_split": """
            SELECT doc_id,
                   CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':seed42'), 1, 2) < 'cd' THEN 'train'
                        WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':seed42'), 1, 2) < 'e6' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "ann_topk_indexed": """
            WITH sig AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN embedding[CAST(n.i AS INT)] > 0
                                   THEN CAST(2 AS BIGINT) ** (n.i - 1) ELSE 0 END) AS BIGINT) AS s
              FROM embeddings, (SELECT unnest(generate_series(1, 32)) AS i) n
              GROUP BY vec_id),
            q AS (SELECT s AS qs FROM sig WHERE vec_id = 0),
            qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            cand AS (
              SELECT v.vec_id, v.embedding FROM embeddings v
              JOIN sig ON sig.vec_id = v.vec_id, q
              WHERE v.vec_id <> 0 AND bit_count(xor(sig.s, q.qs)) <= 10),
            expl AS (
              SELECT c.vec_id,
                     CAST(c.embedding[CAST(n.i AS INT)] AS DOUBLE) AS x,
                     CAST(qv.qe[CAST(n.i AS INT)] AS DOUBLE) AS y
              FROM cand c, qv,
                   (SELECT unnest(generate_series(1, 10000)) AS i) n
              WHERE n.i <= len(c.embedding))
            SELECT vec_id,
                   round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cosine
            FROM expl GROUP BY vec_id
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "token_count": r"""
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
                        + len(list_filter(string_split_regex(text, '[a-zA-Z0-9\s]+'),
                                          p -> len(p) > 0)) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "dbscan_user_segments": """
            WITH pts AS (
              SELECT user_id, CAST(ts AS DATE) AS d FROM events
              WHERE event_type = 'purchase'),
            m AS (SELECT user_id, min(d) AS mn FROM pts GROUP BY 1),
            base AS (
              SELECT p.user_id, date_diff('day', m.mn, p.d) AS day
              FROM pts p JOIN m USING (user_id)),
            days AS (SELECT user_id, day, count(*) AS cnt FROM base GROUP BY 1, 2),
            nb AS (
              SELECT user_id, day, cnt,
                     sum(cnt) OVER (PARTITION BY user_id ORDER BY day
                                    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS nbrs
              FROM days),
            core AS (
              SELECT user_id, day,
                     sum(CASE WHEN gap IS NULL OR gap > 1 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS segment
              FROM (SELECT user_id, day,
                           day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
                    FROM nb WHERE nbrs >= 3)),
            att AS (
              SELECT user_id, day, segment FROM (
                SELECT d.user_id, d.day, c.segment,
                       row_number() OVER (PARTITION BY d.user_id, d.day
                                          ORDER BY abs(d.day - c.day), c.day) AS rk
                FROM days d JOIN core c
                  ON d.user_id = c.user_id AND abs(d.day - c.day) <= 1)
              WHERE rk = 1),
            rows_att AS (
              SELECT b.user_id, b.day, a.segment
              FROM base b LEFT JOIN att a
                ON a.user_id = b.user_id AND a.day = b.day),
            segcnt AS (
              SELECT user_id, segment, count(*) AS c FROM rows_att
              WHERE segment IS NOT NULL GROUP BY 1, 2),
            segstats AS (
              SELECT user_id, count(*) AS nseg, max(c) AS mx FROM segcnt GROUP BY 1),
            noise AS (
              SELECT user_id,
                     sum(CASE WHEN segment IS NULL THEN 1 ELSE 0 END) AS n_noise
              FROM rows_att GROUP BY 1)
            SELECT n.user_id,
                   CAST(coalesce(s.nseg, 0) AS BIGINT) AS n_segments,
                   CAST(n.n_noise AS BIGINT) AS n_noise,
                   CAST(coalesce(s.mx, 0) AS BIGINT) AS max_segment_rows
            FROM noise n LEFT JOIN segstats s USING (user_id)
        """,
        "embedding_neardup_pairs": """
            WITH expl AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     CAST(a.embedding[CAST(n.i AS INT)] AS DOUBLE) AS x,
                     CAST(b.embedding[CAST(n.i AS INT)] AS DOUBLE) AS y
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
                   (SELECT unnest(generate_series(1, 10000)) AS i) n
              WHERE n.i <= len(a.embedding))
            SELECT id_a, id_b, cosine FROM (
              SELECT id_a, id_b,
                     round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cosine
              FROM expl GROUP BY id_a, id_b)
            WHERE cosine >= 0.4
        """,
        "multimodal_image_features": """
            SELECT CAST(doc_id AS VARCHAR) AS item_id,
                   CAST(4 + doc_id % 8 AS INT) AS width,
                   CAST(4 + doc_id % 5 AS INT) AS height,
                   CAST(3 AS INT) AS n_channels,
                   TRUE AS decode_ok,
                   CAST(floor((n_chars * 10 - 1) / 500.0) + 1 AS BIGINT) AS n_frames
            FROM documents WHERE doc_id < 50
        """,
        "ivf_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
            expl AS (
              SELECT v.vec_id,
                     CAST(v.embedding[CAST(n.i AS INT)] AS DOUBLE) AS x,
                     CAST(q.qv[CAST(n.i AS INT)] AS DOUBLE) AS y
              FROM embeddings v, q,
                   (SELECT unnest(generate_series(1, 10000)) AS i) n
              WHERE v.vec_id <> 1 AND n.i <= len(v.embedding))
            SELECT vec_id,
                   round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cosine
            FROM expl GROUP BY vec_id
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "silver_labels": """
            WITH hv AS (
              SELECT user_id, event_type FROM events WHERE value > 200),
            bad AS (
              SELECT user_id FROM hv GROUP BY user_id
              HAVING count(DISTINCT event_type) = 1
                 AND max(event_type) = 'error'),
            kept AS (SELECT * FROM hv WHERE user_id NOT IN (SELECT user_id FROM bad))
            SELECT user_id, event_type AS silver_label FROM (
              SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY count(*) DESC, event_type) AS rn
              FROM kept GROUP BY user_id, event_type) WHERE rn = 1
        """,
        # independent scalar-int implementation of the ITU-T G.711
        # expansion, inlined as a VALUES table (see _g711_reference_rows)
        "g711_decode_table": (
            "SELECT * FROM (VALUES "
            + ", ".join(
                f"({u}, {mu}, {al})" for u, mu, al in _g711_reference_rows()
            )
            + ") AS t(byte_value, mulaw_i16, alaw_i16)"
        ),
    }
