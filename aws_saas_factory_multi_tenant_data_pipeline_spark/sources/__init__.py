"""Sources: batch + streaming readers for the engine (SURVEY.md §2 B1).

Table registry for the driver's synthetic testdata (TESTDATA.md) plus
generic readers (parquet/json/csv/partitioned-lake). Readers always take an
explicit schema when parity requires it; schema inference is kept only for
the crawler-parity path (lake.register_table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (parquet scan — pushdown + pruning enabled).

    The schema comes from the parquet footer, read on the driver, so the
    read launches no inference job and sets no session conf. Untagged
    ``timestamp[us]`` (isAdjustedToUTC=false) reads as TIMESTAMP, not
    TIMESTAMP_NTZ: under the UTC session pin DuckDB's naive TIMESTAMP
    agrees value-for-value, and instant functions (unix_micros,
    unix_timestamp) reject NTZ. ``timestamp[ns]``, which Spark's reader
    rejects as a timestamp, reads as long nanos; ``events.ts`` is then
    converted to a microsecond TimestampType column in-plan.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = pq.read_schema(path)
    nanos = [f.name for f in footer if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    schema = from_arrow_schema(
        pa.schema([f.with_type(pa.int64()) if f.name in nanos else f for f in footer])
    )
    df = spark.read.schema(schema).parquet(path)
    if "ts" in nanos:
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_json_lines(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """JSON-lines scan (lake parity with the reference's Firehose output).

    Without a schema: inference (crawler parity). Bad rows surface in
    ``_corrupt_record`` (PERMISSIVE mode) for A5-style quarantining.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("columnNameOfCorruptRecord", "_corrupt_record").json(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None, header: bool = True
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_lake(
    spark: SparkSession, root: str, fmt: str = "parquet", first_partition_col: str = "tenant"
) -> DataFrame:
    """Partition-discovering scan over a ``tenant=/year=/…`` layout.

    Selects the first partition level so the sibling ``error/`` quarantine
    prefix (A5 reference layout) never pollutes partition discovery. The
    glob is expanded eagerly via the Hadoop FileSystem API (works on any
    supported FS) and concrete directories are passed to ``load`` — passing
    the glob string itself makes Spark's FileStreamSink metadata probe
    ``getFileStatus`` the literal ``tenant=*`` path and log a spurious
    FileNotFoundException stack on every read.
    """
    jvm = spark._jvm
    glob = jvm.org.apache.hadoop.fs.Path(os.path.join(root, f"{first_partition_col}=*"))
    fs = glob.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(glob)
    parts = [s.getPath().toString() for s in statuses] if statuses is not None else []
    if not parts:
        # never fall back to load(root): the sibling error/ quarantine
        # subtree lives there, and scanning it would silently return
        # quarantine records as lake rows (defeating the glob's guard)
        raise FileNotFoundError(
            f"read_lake: no {first_partition_col}=* partitions under {root!r} "
            "(empty or missing lake; quarantine-only lakes are read via "
            "their error/ prefix explicitly)"
        )
    df = spark.read.format(fmt).option("basePath", root).load(parts)
    # exactly-once sink mode partitions by a hidden _epoch column
    # (streaming.EPOCH_COL) — an implementation detail, not lake schema
    return df.drop("_epoch")


#: byte bound on one streaming micro-batch: 64 MiB, Firehose's minimum
#: size buffer when dynamic partitioning is on (kinesis-stack.ts:140-142)
MAX_BYTES_PER_TRIGGER = 64 * 1024 * 1024


def stream_json_source(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """File-based streaming source standing in for the Kinesis consumer (A1).

    Micro-batches are bounded by bytes, not file count: each trigger takes
    new files until their total size would pass ``MAX_BYTES_PER_TRIGGER``
    (always at least one file). This is the size half of the reference's
    Firehose buffer, which flushes on whichever of 64 MiB or the interval
    comes first (kinesis-stack.ts:140-142); the trigger interval is the
    time half. Steady traffic yields the same small batches a file cap
    would, while a backlog drains in a few large batches instead of many
    capped ones, each paying the sink's fixed per-batch cost.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxBytesPerTrigger", str(MAX_BYTES_PER_TRIGGER))
        .json(path)
    )


def read_parquet_resilient(spark, root: str, schema=None):
    """Scan that survives corrupt files: per-read `ignoreCorruptFiles`, so
    one truncated/garbled object (the Firehose `error/` analog happening
    INSIDE the lake — partial upload, bit rot) degrades to missing rows
    instead of failing every query over the table. Deliberately per-read,
    not session-wide: silent skipping is an incident-response mode, not a
    default — the default read keeps failing loudly so corruption is
    noticed, and the resilient read keeps dashboards alive while the bad
    object is repaired from upstream (lake.reprocess_quarantine /
    snapshot rollback). Pass ``schema`` (e.g. from the catalog) whenever
    available: without it Spark must read SOME footer for inference, and
    if it samples the corrupt file the read fails before
    ignoreCorruptFiles can apply."""
    r = spark.read.option("ignoreCorruptFiles", "true")
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(root)
