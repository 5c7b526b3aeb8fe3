"""Database layer — D1-D11 (reference fireworks/extensions/database.py).

The reference binds SQLAlchemy tables as pipeline nodes (TablePipe,
database.py:11-51), composes WHERE clauses into the live query
(database.py:255-263), prunes columns (database.py:84-112), and mutates with
delete/update/upsert (database.py:114-130). Spark-first re-expression:

- a *table* is a storage location (parquet/ORC/CSV path or JDBC ref); the
  *query* is just the DataFrame — filter/select compose lazily and Catalyst
  pushes them into the scan (PushedFilters / ReadSchema), which is the same
  pushdown the reference hand-builds with SQLAlchemy;
- *mutations* are join-rewrites: DELETE = left-anti join, UPDATE = replace
  matching rows, UPSERT = MERGE. The pure-transform forms below are the
  semantics (oracle-checkable); ``Table`` materializes them with an
  atomic directory swap. On a production lakehouse these become Delta /
  Iceberg ``MERGE INTO`` — same plans, transactional commit for free.

Scale: every rewrite is one equi-join on the key. Small key sets broadcast;
large ones shuffle on the key like any join. No collect, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# --------------------------------------------------------------------------
# pure join-rewrite semantics (D7, D8, D9)
# --------------------------------------------------------------------------


def delete_rows(df: DataFrame, key_col: str, keys) -> DataFrame:
    """DELETE WHERE key IN keys (D7, reference database.py:114-116).

    ``keys`` is a 1-column DataFrame or a Python list. Left-anti join on the
    key — Spark broadcasts a small key set automatically; a huge one shuffles
    both sides on the key, which is the correct distributed delete."""
    kdf = _key_df(df, key_col, keys)
    return df.join(kdf, df[key_col] == kdf["_k"], "left_anti")


def update_rows(df: DataFrame, batch: DataFrame, key_col: str) -> DataFrame:
    """UPDATE: rows whose key appears in ``batch`` are replaced by the batch
    row; batch rows with no matching key are ignored (D8, reference
    database.py:118-120, 274-282). Batch schema must equal table schema."""
    existing = batch.join(
        df.select(key_col).distinct(), key_col, "left_semi"
    )
    untouched = df.join(batch.select(key_col).distinct(), key_col, "left_anti")
    return untouched.unionByName(existing)


def upsert_rows(df: DataFrame, batch: DataFrame, key_col: str) -> DataFrame:
    """MERGE: update matching keys, insert the rest (D9 — declared but left
    unimplemented in the reference, database.py:122-130; semantics follow
    its docstring)."""
    untouched = df.join(batch.select(key_col).distinct(), key_col, "left_anti")
    return untouched.unionByName(batch)


def _key_df(df: DataFrame, key_col: str, keys) -> DataFrame:
    if isinstance(keys, DataFrame):
        return keys.select(F.col(keys.columns[0]).alias("_k")).distinct()
    spark = df.sparkSession
    ktype = dict(df.dtypes)[key_col]
    return spark.createDataFrame(
        [(k,) for k in keys], f"_k {ktype}"
    ).distinct()


# --------------------------------------------------------------------------
# Table binding (D1-D6) with atomic-swap mutation (D11)
# --------------------------------------------------------------------------


class Table:
    """A storage-backed table (TablePipe, D1). Reads are plain DataFrames;
    mutations rewrite-and-swap the backing directory.

    Atomicity (D11): each mutation writes the full new table to a temp dir,
    then swaps it in with two renames. Readers concurrent with the swap see
    old or new, never a mix — per-operation commit/rollback, the same
    guarantee the reference gets from its session transaction
    (database.py:33-43). Multi-operation transactions compose lazily in a
    ``Transaction`` (``with table.transaction() as tx: ...``) and commit
    through the same single swap; a production lakehouse would swap the
    directory dance for Delta/Iceberg commit protocol, same plans.
    """

    def __init__(self, spark: SparkSession, path: str, fmt: str = "parquet"):
        self.spark = spark
        self.path = path
        self.fmt = fmt

    # ---- reads -----------------------------------------------------------

    def df(self) -> DataFrame:
        """D5: the query surface IS the DataFrame (filter/select push down)."""
        return self.spark.read.format(self.fmt).load(self.path)

    def query(self, *cols: str) -> DataFrame:
        """D3: column-pruned SELECT — the pruning reaches the file scan
        (ReadSchema lists only these columns)."""
        return self.df().select(*cols) if cols else self.df()

    def count(self) -> int:
        """D6: COUNT(*) (metadata-only for parquet footers when possible)."""
        return self.df().count()

    def __len__(self) -> int:
        return self.count()

    # ---- writes ----------------------------------------------------------

    def insert(self, rows: DataFrame) -> None:
        """D2: bulk append — a distributed file write, the analog of the
        reference's executemany bulk insert (database.py:61-82)."""
        rows.write.format(self.fmt).mode("append").save(self.path)

    def delete(self, key_col: str, keys) -> None:
        self._swap(delete_rows(self.df(), key_col, keys))

    def update(self, batch: DataFrame, key_col: str) -> None:
        self._swap(update_rows(self.df(), batch, key_col))

    def upsert(self, batch: DataFrame, key_col: str) -> None:
        self._swap(upsert_rows(self.df(), batch, key_col))

    def compact(self, target_mb: int = 512) -> int:
        """Small-files compaction — the #1 operational chore on a big lake
        (every streaming sink and incremental insert fragments the table;
        scans then pay a task per tiny file). Rewrites the table into
        ceil(on_disk_bytes / target_mb) files via the same atomic
        rewrite-and-swap as the mutations; returns the new file count.
        Size comes from the Hadoop FileSystem API, so it works on any
        filesystem Spark can reach, not just local paths."""
        import math

        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        nbytes = fs.getContentSummary(jpath).getLength()
        n = max(1, math.ceil(nbytes / (target_mb * 1024 * 1024)))
        self._swap(self.df().repartition(n))
        return n

    def transaction(self) -> "Transaction":
        """Begin a multi-operation transaction (D11 — reference sessions
        span several inserts/deletes under one commit/rollback,
        database.py:33-43). Use as a context manager: clean exit commits,
        an exception rolls back (nothing was written either way until
        commit's single atomic swap)."""
        return Transaction(self)

    def _swap(self, new_df: DataFrame) -> None:
        from fireworks_spark.publish import swap_dir

        def stage(tmp):
            new_df.write.format(self.fmt).mode("overwrite").save(tmp)

        swap_dir(self.path, stage)


class Transaction:
    """Multi-operation transaction over a :class:`Table` (reference
    database.py:33-43: one SQLAlchemy session accumulates inserts/deletes/
    updates and a single ``commit`` makes them all visible, ``rollback``
    discards them).

    Spark-first shape: every operation composes the SAME lazy join-rewrite
    the standalone mutations use, onto one working plan. Nothing touches
    storage until :meth:`commit`, which materializes the final plan once and
    publishes it with the table's atomic two-rename swap — so concurrent
    readers observe the whole transaction or none of it, and a failure
    anywhere (including mid-write) leaves the table untouched.
    :meth:`rollback` simply drops the plan.

    Scale note: commit is one full-table rewrite regardless of how many
    operations composed — the right trade for multi-op atomicity on plain
    parquet (Catalyst collapses the chained anti-joins/unions into one job).
    Single appends outside a transaction keep the cheap ``insert`` path.
    Isolation is last-writer-wins between concurrent transactions, the same
    contract as the reference's sqlite sessions.
    """

    def __init__(self, table: Table):
        self._table = table
        self._df = table.df()
        self._closed = False
        self._dirty = False

    # ---- composed operations (same semantics as Table's single ops) ------

    def insert(self, rows: DataFrame) -> "Transaction":
        self._check_open()
        self._df = self._df.unionByName(rows)
        self._dirty = True
        return self

    def delete(self, key_col: str, keys) -> "Transaction":
        self._check_open()
        self._df = delete_rows(self._df, key_col, keys)
        self._dirty = True
        return self

    def update(self, batch: DataFrame, key_col: str) -> "Transaction":
        self._check_open()
        self._df = update_rows(self._df, batch, key_col)
        self._dirty = True
        return self

    def upsert(self, batch: DataFrame, key_col: str) -> "Transaction":
        self._check_open()
        self._df = upsert_rows(self._df, batch, key_col)
        self._dirty = True
        return self

    def df(self) -> DataFrame:
        """Read-your-writes view of the in-flight state (uncommitted)."""
        self._check_open()
        return self._df

    # ---- commit / rollback ----------------------------------------------

    def commit(self) -> None:
        self._check_open()
        self._closed = True
        if self._dirty:
            self._table._swap(self._df)

    def rollback(self) -> None:
        self._closed = True
        self._df = None

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError("transaction already committed or rolled back")

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is not None:
            self.rollback()
        elif not self._closed:
            self.commit()
        return False


# --------------------------------------------------------------------------
# DDL / reflection (D10)
# --------------------------------------------------------------------------


def create_table(
    spark: SparkSession, path: str, schema: StructType, fmt: str = "parquet"
) -> Table:
    """DDL from a declared schema (create_table, reference
    database.py:164-192): writes an empty, schema-carrying table."""
    spark.createDataFrame([], schema).write.format(fmt).mode(
        "errorifexists"
    ).save(path)
    return Table(spark, path, fmt)


def reflect_table(spark: SparkSession, path: str, fmt: str = "parquet") -> StructType:
    """Schema reflection from storage (reflect_table, reference
    database.py:364-377) — parquet footers carry the schema."""
    return spark.read.format(fmt).load(path).schema


def parse_columns_and_types(df: DataFrame) -> dict[str, str]:
    """Column/type introspection (parse_columns_and_types, reference
    database.py:299-321)."""
    return dict(df.dtypes)


# --------------------------------------------------------------------------
# JDBC (D1-D3 against a live database)
# --------------------------------------------------------------------------


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str] | None = None,
    **options: str,
) -> DataFrame:
    """JDBC scan. Catalyst pushes filters/projections into the remote SQL —
    the automatic form of the reference's hand-composed WHERE pushdown
    (database.py:255-263). ``predicates`` optionally split the read into
    parallel range queries (one partition per predicate)."""
    if predicates:
        return spark.read.jdbc(
            url, table, predicates=predicates, properties=dict(options)
        )
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **options: str
) -> None:
    """JDBC bulk write (batched inserts executor-side — D2 at scale)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()
