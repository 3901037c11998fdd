"""WarehouseIO — stage checkpoint tables with resume semantics.

The reference checkpoints every stage to CSV and skips recompute when
the file exists (``create_silver_label.py:92-93,110-111,224,268`` —
SURVEY.md §2.1 S7). Here each stage is a Parquet table directory with
Spark's atomic ``_SUCCESS`` commit marker; ``exists`` only trusts a
committed write, so a killed run re-executes the interrupted stage
(idempotent re-entry).

The warehouse dir is any Hadoop path: local, ``file://``, ``hdfs://``,
``s3a://``; a path with no scheme follows ``fs.defaultFS``. Every
marker read and write, existence check, listing and cleanup resolves
the path's Hadoop ``FileSystem`` from the session's Hadoop conf — the
same resolution Spark's writer uses — so resume sees exactly what the
writes committed, on whichever filesystem that is.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_GLOB_CHARS = re.compile(r"([\\{}\[\]*?])")


def literal_path(path: str) -> str:
    """``path`` with Hadoop glob metacharacters escaped. Spark's file
    reader globs every path it is given, so a warehouse dir containing
    ``[`` or ``{`` would otherwise be read as a pattern."""
    return _GLOB_CHARS.sub(r"\\\1", path)


def _row_count():
    """The metric a checkpoint observes on each frame it writes."""
    return F.count(F.lit(1)).alias("rows")


class WarehouseIO:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        # stage name -> the Observations on its last checkpoint's writes,
        # or None when that checkpoint loaded committed rows (rows_written)
        self._observed: dict[str, list[Observation] | None] = {}
        self._fs_mkdirs(base_dir)

    # ---- filesystem plumbing: every op resolves the path's Hadoop
    # FileSystem, as Spark's writer does, so a marker or listing never
    # looks at a different filesystem than the write it checks.

    def _hadoop_fs(self, path: str):
        p = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    def _fs_exists(self, path: str) -> bool:
        fs, p = self._hadoop_fs(path)
        return fs.exists(p)

    def _fs_rmtree(self, path: str) -> None:
        fs, p = self._hadoop_fs(path)
        fs.delete(p, True)

    def _fs_mkdirs(self, path: str) -> None:
        fs, p = self._hadoop_fs(path)
        fs.mkdirs(p)

    def _fs_write_text(self, path: str, text: str) -> None:
        fs, p = self._hadoop_fs(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def _fs_read_text(self, path: str) -> str | None:
        """Contents of a small text file, or None iff it does not
        exist. Any OTHER failure (remote throttle, auth refresh,
        transport) must PROPAGATE: ``checkpoint_chunked`` treats a None
        marker as "layout invalid" and deletes every committed chunk,
        so swallowing a transient remote error would silently discard
        hours of committed progress instead of failing the run."""
        fs, p = self._hadoop_fs(path)
        try:
            # open directly and classify the failure — an exists()
            # pre-check would race a concurrent delete into a crash
            stream = fs.open(p)
        except Exception as exc:  # Py4JJavaError wrapping the java cause
            java_exc = getattr(exc, "java_exception", None)
            cls = java_exc.getClass().getName() if java_exc is not None else ""
            if "FileNotFoundException" in cls:
                return None
            raise
        try:
            return str(
                self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            )
        finally:
            stream.close()

    def _fs_glob(self, path: str, pattern: str) -> list[str]:
        """The paths matching ``pattern`` under the literal dir
        ``path`` (its glob metacharacters escaped), from ONE
        ``globStatus`` call; [] when ``path`` does not exist."""
        fs, p = self._hadoop_fs(f"{literal_path(path)}/{pattern}")
        return [str(st.getPath()) for st in fs.globStatus(p) or []]

    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def exists(self, name: str) -> bool:
        return self._fs_exists(os.path.join(self._path(name), "_SUCCESS"))

    def save(self, df: DataFrame, name: str, stage: str | None = None) -> None:
        """Write a stage table as a Parquet directory under the
        warehouse dir; adds per-partition lineage columns.

        Lineage: originating spark partition + stage label travel with
        every row (north-rule "per-partition lineage").
        """
        out = df.withColumn("_lineage_stage", F.lit(stage or name)).withColumn(
            "_lineage_part", F.spark_partition_id()
        )
        out.write.mode("overwrite").parquet(self._path(name))

    def load(self, name: str) -> DataFrame:
        return self.spark.read.parquet(literal_path(self._path(name)))

    def load_clean(self, name: str) -> DataFrame:
        """Load without the lineage columns (for stage chaining)."""
        df = self.load(name)
        drop = [c for c in ("_lineage_stage", "_lineage_part") if c in df.columns]
        return df.drop(*drop)

    def drop(self, name: str) -> None:
        self._fs_rmtree(self._path(name))

    def save_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_col: str,
        n_buckets: int = 64,
        sort: bool = True,
    ) -> DataFrame:
        """Write a hash-bucketed (and sorted) table keyed on
        ``bucket_col`` — the shuffle-free join layout for the 100 TB
        path: two tables bucketed the same way joined on the bucket key
        plan as a SortMergeJoin with NO Exchange on either side (the
        exact-dedup payload re-attach at a scale where neither id set
        broadcasts). Bucketed output requires a catalog table
        (``saveAsTable``); the data itself lives under the warehouse
        dir as ordinary parquet. The catalog name is namespaced by a
        hash of this warehouse's base dir — the catalog is session-
        global, and two WarehouseIO instances writing a same-named
        stage would otherwise silently repoint each other's tables."""
        table = self._bucketed_table_name(name)
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", self._path(name))
            .bucketBy(n_buckets, bucket_col)
        )
        if sort:
            writer = writer.sortBy(bucket_col)
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        writer.saveAsTable(table)
        return self.spark.table(table)

    def _bucketed_table_name(self, name: str) -> str:
        import hashlib

        suffix = hashlib.sha256(self.base_dir.encode()).hexdigest()[:12]
        return f"{name}_wh{suffix}"

    @staticmethod
    def _chunk_key_desc(chunk_expr) -> str:
        """Stable serialization of the chunking key for the resume
        marker. ``Column.__str__`` is not stable across Spark versions
        (its expression ids churn), so a version upgrade would
        spuriously invalidate a resumable layout; the canonical SQL of
        the expression is. Falls back to ``str`` when the SQL is
        unavailable (e.g. Spark Connect columns)."""
        if isinstance(chunk_expr, str):
            return chunk_expr
        try:
            return str(chunk_expr._jc.expr().sql())
        except Exception:
            return str(chunk_expr)

    def checkpoint_chunked(
        self,
        df: DataFrame,
        name: str,
        chunk_expr,
        n_chunks: int = 8,
        resume: bool = False,
    ) -> DataFrame:
        """Mid-stage incremental commit (SURVEY.md S8): the stage's
        output is written as ``n_chunks`` independently committed
        parquet partitions (``chunk=i/_SUCCESS`` each), so a job killed
        at chunk k resumes at chunk k — the reference's
        every-N-batches partial save (``create_silver_label.py:103-106``)
        without its atomicity hole (a chunk is either fully committed or
        recomputed).

        ``chunk_expr``: either a column name (hashed into ``n_chunks``
        chunks) or a Column already in [0, n_chunks). Pass an expression
        aligned with the *input* partitioning (e.g. a date bucket) and
        each chunk's pass prunes its scan to its own slice — that is the
        100 TB shape; a hash of the id re-scans the input per chunk and
        is only sensible when the upstream is itself a checkpoint.

        A non-resume run clears the stage directory first, and the
        read-back enumerates exactly chunks 0..n_chunks-1 — stale
        committed chunks from an earlier run with a larger ``n_chunks``
        (or a different chunking key) can neither survive a fresh run
        nor leak into the result of a resumed one. Lineage columns are
        stamped like every other stage write."""
        chunk_desc = f"{n_chunks}:{self._chunk_key_desc(chunk_expr)}"
        if isinstance(chunk_expr, str):
            chunk_expr = F.pmod(F.xxhash64(F.col(chunk_expr)), F.lit(n_chunks))
        base = self._path(name)
        marker = os.path.join(base, "_chunking")
        if resume:
            # a resumed run must use the SAME chunk count and key as the
            # interrupted one — otherwise committed chunks hold rows
            # assigned under a different modulus and the result would
            # silently lose/duplicate rows. A missing or mismatched
            # marker invalidates the whole layout.
            resume = self._fs_read_text(marker) == chunk_desc
        if not resume:
            self._fs_rmtree(base)
            self._fs_mkdirs(base)
            self._fs_write_text(marker, chunk_desc)
        chunk_dirs = [os.path.join(base, f"chunk={i}") for i in range(n_chunks)]
        written: list[Observation] = []
        loaded = False
        for i, sub in enumerate(chunk_dirs):
            if resume and self._fs_exists(os.path.join(sub, "_SUCCESS")):
                loaded = True
                continue
            # the chunk filter goes first so it reaches below the
            # upstream work: the row-count observation and the
            # non-deterministic lineage column both stop filter pushdown,
            # and above either one every chunk pass computed the whole
            # stage
            obs = Observation()
            written.append(obs)
            df.filter(chunk_expr == i).observe(obs, _row_count()).withColumn(
                "_lineage_stage", F.lit(name)
            ).withColumn("_lineage_part", F.spark_partition_id()).write.mode(
                "overwrite"
            ).parquet(sub)
        self._observed[name] = None if loaded else written
        # read back ONLY the expected chunk dirs (never `base` wholesale:
        # a resumed run must not pick up stale extra chunk=* dirs)
        out = self.spark.read.option("basePath", base).parquet(
            *map(literal_path, chunk_dirs)
        )
        return out.drop("chunk", "_lineage_stage", "_lineage_part")

    def rows_written(self, name: str) -> int:
        """Rows the last ``checkpoint``/``checkpoint_chunked`` of
        ``name`` wrote, read from Observations on the written frames (no
        extra Spark job). -1 when that checkpoint loaded any committed
        rows instead of writing them (a resumed stage), or never ran:
        ``Observation.get`` waits for an action on the observed frame,
        so it is never asked about a write that did not happen."""
        written = self._observed.get(name)
        if written is None:
            return -1
        return sum(obs.get["rows"] for obs in written)

    def checkpoint(self, df: DataFrame, name: str, resume: bool = False) -> DataFrame:
        """Write-through checkpoint: reuse a committed table when
        ``resume``; otherwise compute, persist, and read back (which
        also truncates lineage like ``df.checkpoint()``, but durably).

        The Parquet read-back supplies the schema just written
        (``df.schema``, which leaves out the lineage columns) instead
        of inferring it, so it launches no footer-reading job; file
        sources make every field nullable either way, so the result's
        schema equals ``load_clean(name).schema``. The resume path
        reads through ``load_clean``; ``exists`` checks the commit
        marker on the filesystem the write went to."""
        if resume and self.exists(name):
            self._observed[name] = None
            return self.load_clean(name)
        obs = Observation()
        self.save(df.observe(obs, _row_count()), name)
        self._observed[name] = [obs]
        return self.spark.read.schema(df.schema).parquet(
            literal_path(self._path(name))
        )
