"""Serialization formats (SURVEY.md §1.6): the reference's Message.read/to
surface (csv/json/parquet/feather/sql/...; reference
fireworks/core/message.py:13-17, 156-235) as thin, consistent wrappers over
the Spark reader/writer — schema-carrying where the format allows, explicit
schema injection where it doesn't (CSV/JSON infer or accept a StructType).

The reference's native format (gzip tar of df.parquet + torch blobs,
message.py:237-302) maps to plain Parquet: array columns serialize natively,
so no second container is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from fireworks_spark.connector import read_files, source_files, write_parts

_READ_OPTS = {
    "csv": {"header": "true"},
    "json": {},
    "parquet": {},
    "orc": {},
}


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Format-dispatched read (Message.read). For CSV/JSON pass ``schema``
    to avoid inference scans at scale (inference reads the data twice)."""
    reader = spark.read.format(fmt)
    for k, v in {**_READ_OPTS.get(fmt, {}), **options}.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        reader = reader.option("inferSchema", "true")
    return reader.load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Format-dispatched write (Message.to). ``partition_by`` produces
    hive-style directory partitioning — the thing that makes downstream
    partition pruning work, so use it on every production sink whose
    readers filter by a column."""
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


# --------------------------------------------------------------------------
# bucketed tables (co-located joins)
# --------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Persist as a bucketed (and optionally sort-within-bucket) catalog
    table: rows are hash-partitioned into ``num_buckets`` files per
    partition BY KEY AT WRITE TIME, so a later join or aggregation on
    ``bucket_cols`` between tables bucketed the same way needs NO shuffle —
    the single biggest lever for repeated 100 TB fact-to-fact joins
    (pay the shuffle once at ingest, never again).

    Catalog tables are required (bucket metadata lives in the metastore);
    path-based writes cannot carry it.
    """
    writer = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def bucketed_join(
    spark: SparkSession, left: str, right: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed catalog tables on the bucket key. With equal
    bucket counts the physical plan is a SortMergeJoin whose children read
    pre-bucketed files directly — zero Exchange operators (asserted in
    tests/test_io_formats.py)."""
    return spark.table(left).join(spark.table(right), on, how)


def zorder_key(cols: list[str], bits: int = 16):
    """Morton (Z-order) interleave of non-negative integer columns as a
    single LONG sort key — pure bit expressions, fully codegen'd. Values
    are clamped to [0, 2^bits); callers with floats/negatives should first
    rank or offset them into that range (e.g. via ntile or min-subtract)."""
    from pyspark.sql import functions as F

    n = len(cols)
    assert n * bits <= 63, "interleaved key must fit a signed long"
    cap = (1 << bits) - 1
    clamped = [
        F.least(F.greatest(F.col(c).cast("long"), F.lit(0)), F.lit(cap))
        for c in cols
    ]
    key = F.lit(0)
    for i in range(bits):
        for j, cc in enumerate(clamped):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(cc, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return key


def zorder_sort(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
) -> DataFrame:
    """Cluster rows along a Z-order curve over ``cols`` so every output file
    covers a small hyper-rectangle of the key space — the data-skipping
    layout (Delta/Iceberg OPTIMIZE ZORDER analog): parquet min/max footers
    on EACH of the interleaved columns become selective, so point/range
    predicates on ANY of them prune files, not just the leading sort column.
    repartitionByRange on the Morton key (range exchange = globally ordered
    buckets) + sortWithinPartitions; write with write_table afterwards.
    ``num_files`` pins the output file count (otherwise AQE picks it from
    shuffle sizes — which can coalesce small inputs to one file)."""
    k = zorder_key(cols, bits).alias("_zkey")
    z = df.withColumn("_zkey", k)
    z = (
        z.repartitionByRange(num_files, "_zkey")
        if num_files
        else z.repartitionByRange("_zkey")
    )
    return z.sortWithinPartitions("_zkey").drop("_zkey")


# --------------------------------------------------------------------------
# feather / Arrow IPC (reference Message.read/to 'feather', message.py:13-17)
# --------------------------------------------------------------------------
#
# Spark has no built-in feather source, but pyarrow ships in every executor's
# Python, so the connector uses the shared file-connector skeleton
# (connector.py): one task per file on read; on write, each partition
# streams into one part file under a dot-prefixed scratch name, renamed into
# a staging directory that publish.swap_dir swaps into place. Writing to an
# existing path replaces its contents (pandas to_feather's contract) and a
# failed write leaves the previous output readable. Zero driver data
# movement; the driver only reads one schema footer.


def read_feather(spark: SparkSession, path: str) -> DataFrame:
    """Distributed read of a feather file or directory of feather files.

    The driver lists files and reads ONE schema (footer-only); the data is
    read inside Arrow-batched Python tasks, one file per task, so the scan
    parallelizes across executors like any file source. Files must share a
    schema (first file wins, mismatches raise inside the task)."""
    import pyarrow.feather as pf
    from pyspark.sql.pandas.types import from_arrow_schema

    files = source_files(path, "feather", (".feather", ".arrow"))
    schema = from_arrow_schema(
        pf.read_table(files[0], memory_map=True).schema,
        prefer_timestamp_ntz=True,
    )
    return read_files(
        spark, files, "feather", lambda f: pf.read_table(f).to_pandas(), schema
    )


def write_feather(df: DataFrame, path: str, compression: str = "zstd") -> None:
    """Distributed write: each partition streams its Arrow batches into one
    ``part-*.feather`` file under ``path`` (directory-of-parts, the Spark
    sink layout). Local/NFS filesystems only — a cloud deployment would
    swap the file handle for the relevant filesystem client; the
    per-partition shape is unchanged."""

    def render(batches, part):
        import pyarrow as pa

        # Feather V2 == the Arrow IPC file format, so appending each Arrow
        # batch through a RecordBatchFileWriter as it arrives keeps task
        # memory at one batch (maxRecordsPerBatch) instead of buffering the
        # whole partition in a pd.concat.
        with part.open() as fh:
            writer = None
            for b in batches:
                t = pa.Table.from_pandas(b, preserve_index=False)
                if writer is None:
                    opts = pa.ipc.IpcWriteOptions(compression=compression)
                    writer = pa.ipc.new_file(fh, t.schema, options=opts)
                writer.write_table(t)
            writer.close()

    write_parts(df, path, "feather", render)
