"""Parquet readers for the driver-provided test tables (TESTDATA.md).

Replaces the reference's ClickHouse scan operators S1-S3
(reference client/clickhouse_client.py:43-82): a partitioned parquet scan is
Spark-native, so the 10k-row batch iterator disappears entirely —
Catalyst pushes filters/projections into the scan and partitions replace
manual batching.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from billing_etl_v1_spark.session import REQUIRED_CONF

TPCH_TABLES = [
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
]


def harden_session(spark: SparkSession) -> None:
    for k, v in REQUIRED_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not recognized/settable on this build — best effort


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    harden_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong -> truncate to micros,
        # matching DuckDB's ns->us coercion of the same file
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register the test tables as temp views so shared SQL can run on them."""
    for t in tables or TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV source with a MANDATORY explicit schema.

    Schema inference is forbidden by design: it requires an extra full pass
    over the data (prohibitive at 100 TB) and its type guesses depend on
    the sampled partitions, so the same file can load with different types
    on different clusters. ``mode=FAILFAST`` surfaces malformed rows at
    read time instead of silently nulling them (the reference's equivalent
    failure posture is its per-day try/except + failure CSV,
    reference main.py:15-32).
    """
    harden_session(spark)
    reader = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "FAILFAST")
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines source with a mandatory explicit schema (same rationale as
    read_csv; additionally, inferred JSON schemas silently widen on new
    keys, which breaks downstream column resolution)."""
    harden_session(spark)
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source (Spark-native columnar format — the warehouse interchange
    sibling of parquet: predicate pushdown, column pruning, and splittable
    stripes all apply). Self-describing like parquet, so the schema is
    optional; passing one pins the read schema (projection + type check)
    the same way the parquet readers rely on the file footer.

    Corrupt-file posture (deliberately NO quarantine twin): ORC is a
    binary columnar format — there is no row-level "corrupt record" to
    capture the way the CSV/JSON quarantine readers do, so a corrupt
    stripe/footer fails its task loudly, which is the correct default
    (silent data loss is worse than a failed job). The recovery knobs are
    Spark's own: ``spark.sql.files.ignoreCorruptFiles=true`` (skips
    unreadable FILES wholesale — whole-file granularity means every
    healthy row in a file with one bad stripe is dropped too, so use it
    only for triage, never steady-state) and quarantining at the FILE
    level by moving readable paths aside after a failed read. Same story
    applies to parquet; the row-granular quarantine surface is
    CSV/JSON-only by design."""
    harden_session(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


# parsed frames pinned by the quarantine readers, released via
# release_quarantine_cache (same lifecycle pattern as dedup's signature
# memo): the split must filter a MATERIALIZED scan (SPARK-21610), but a
# persist with no unpersist path would pin a whole backfill's input in
# storage memory for the session's lifetime
_QUARANTINE_PINNED: list = []


def release_quarantine_cache() -> int:
    """Unpersist EVERY parsed frame pinned by the quarantine readers in
    this process and return how many were released. Global by design
    (the dedup-memo lifecycle pattern): call it only when no quarantine
    frames are still in flight — it also invalidates OTHER readers'
    outstanding good/bad frames, because releasing reverts each scan to
    unmaterialized, where filtering on the corrupt column is disallowed
    again (SPARK-21610) and the split frames raise AnalysisException."""
    released = 0
    for df in _QUARANTINE_PINNED:
        try:
            df.unpersist()
            released += 1
        except Exception:
            pass  # stopped session — nothing left to release
    _QUARANTINE_PINNED.clear()
    return released


def split_corrupt(parsed, corrupt: str = "_corrupt_record"):
    """The PERMISSIVE-parse good/bad split shared by the batch quarantine
    readers and the streaming ingest twin: fully-parsed rows minus the
    corrupt column, and the raw text of every row that failed."""
    good = parsed.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = parsed.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("corrupt_record")
    )
    return good, bad


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    timestamp_format: str | None = None,
    multiline: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """CSV source with corrupt-row QUARANTINE instead of job failure — the
    in-data-plane form of the reference's failure-CSV posture (reference
    main.py:15-32 wraps each day in try/except and logs failures to a CSV;
    here the failed ROWS themselves are captured, not just the batch that
    contained them).

    Returns ``(good, bad)``: ``good`` has exactly ``schema``'s columns with
    every fully-parsed row; ``bad`` is ``(corrupt_record: string)`` holding
    the raw text of each row that failed to parse, ready for
    ``writers.write_json`` into a quarantine location. Use
    :func:`read_csv` (FAILFAST) when a malformed row should stop the run;
    use this when a 100 TB backfill must survive row-level garbage and
    account for it afterwards.

    Implementation notes: PERMISSIVE mode + ``columnNameOfCorruptRecord``
    requires the corrupt column present in the read schema, and Spark
    refuses to filter on the corrupt column of an unmaterialized scan
    (SPARK-21610) — the parsed frame is persisted before the split, which
    also means the file is read ONCE for both outputs.

    ``multiline``: by default each PHYSICAL line is one record, so an
    RFC-4180 quoted field containing a newline splits into two records
    that both land in ``bad`` — accounted, never silently corrupted
    (pinned by test), and recoverable from the quarantine. Pass
    ``multiline=True`` to parse such records correctly; the trade is that
    multiLine files are NOT splittable (one task per file — at 100 TB
    keep multiline sources in many moderate files, or pre-normalize).
    """
    from pyspark import StorageLevel
    from pyspark.sql.types import StringType, StructType

    harden_session(spark)
    corrupt = "_corrupt_record"
    aug = StructType(list(schema.fields)).add(corrupt, StringType())
    reader = (
        spark.read.schema(aug)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if multiline:
        reader = reader.option("multiLine", "true")
    parsed = reader.csv(path).persist(StorageLevel.MEMORY_AND_DISK)
    _QUARANTINE_PINNED.append(parsed)
    return split_corrupt(parsed, corrupt)


def read_json_quarantine(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines source with corrupt-row quarantine; same contract and
    rationale as :func:`read_csv_quarantine`."""
    from pyspark import StorageLevel
    from pyspark.sql.types import StringType, StructType

    harden_session(spark)
    corrupt = "_corrupt_record"
    aug = StructType(list(schema.fields)).add(corrupt, StringType())
    parsed = (
        spark.read.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _QUARANTINE_PINNED.append(parsed)
    return split_corrupt(parsed, corrupt)
