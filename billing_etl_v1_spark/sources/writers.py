"""Partitioned sink — the Spark-native stand-in for the reference's
delete-then-insert + tmp-table swap (SURVEY §2.7, D1-D3).

The reference makes re-runs idempotent with:
  ALTER TABLE ... DELETE WHERE invoice_month=... (main.py:177-183,186-192)
  INSERT INTO target SELECT FROM tmp WHERE window  (main.py:195-201)

``write_calculated`` is the one writer of the (invoice_month, usage_day)
partitions: the billing drivers, the streaming ingest and
``compact_partitions`` all write through it, and ``read_calculated``
reads the table back as exactly ``schemas.TARGET_SCHEMA``. Each
partitioned overwrite here states ``partitionOverwriteMode=dynamic`` on
its own writer, so under any session one ``mode("overwrite")`` write
replaces the partitions present in the incoming frame and leaves every
other partition untouched (under the session default, ``static``, it
would erase the whole table first). That is not the reference's window
delete; see ``write_calculated`` for the stale-day caveat.

At 100 TB: partition by (invoice_month, usage_day) so daily increments touch
only their own day partitions and month backfills replace one month
atomically per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from billing_etl_v1_spark.schemas import TARGET_COLUMNS, TARGET_SCHEMA

PARTITION_COLUMNS = ("invoice_month", "usage_day")


def write_calculated(df: DataFrame, path: str) -> None:
    """D1+D2+D3 as one operation: cluster by the partition keys, then
    overwrite the (invoice_month, usage_day) partitions present in ``df``
    (dynamic partition overwrite, set on this writer whatever the
    session's default).

    Dynamic overwrite is NOT the reference's window delete: a day in a
    run's window with no output rows (say, all of its usage restated away
    upstream) is not in the frame, so its stale rows survive the re-run.
    A re-run is idempotent only for the days it writes. Making the drivers
    replace the whole window is ROADMAP.md open item 1.

    Clustering makes each hive partition the output of one task instead of
    every task that happens to hold its rows. Without it the file count is
    O(tasks × partitions): measured at the 16× local scale (9.1M output
    rows, 2499 day-partitions, 32 tasks) the naive write produced 79,968
    parquet files in 180s; clustered it is one file per partition — the
    difference between a healthy table and a planning-time disaster at
    1000 executors."""
    (
        df.repartition(*PARTITION_COLUMNS)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLUMNS)
        .parquet(path)
    )


def read_calculated(spark: SparkSession, path: str) -> DataFrame:
    """The table ``write_calculated`` wrote, as exactly ``TARGET_SCHEMA``:
    its names, types and order. The partition columns' types come from the
    schema, not from directory-name inference, so they do not depend on the
    session (inference would read invoice_month '199506' as an int; with
    inference off, usage_day would be a string). A schema read alone puts
    the partition columns last; the select restores the target order."""
    return spark.read.schema(TARGET_SCHEMA).parquet(path).select(*TARGET_COLUMNS)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    path: str | None = None,
) -> None:
    """Bucketed table sink: overwrites ``table`` with rows pre-shuffled
    into `buckets` files by hash(key) and sorted by key within each bucket.

    This is the 100 TB answer to "this join runs every day on the same
    key": two tables bucketed by the same key with the same bucket count
    join WITHOUT any exchange — the shuffle was paid once at write time
    and amortizes across every later join/aggregate on that key
    (tests/test_writers_drivers.py asserts the exchange-free plan).
    The reference has no equivalent; its substitute was re-aggregating in
    ClickHouse per query (reference billing_calculation_service.py:164-187).
    """
    writer = df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV sink, overwriting ``path`` (the reference's only non-DB sink is
    its failure-log CSV, reference main.py:15-32 /
    billing_calculation_service.py:19-34; here it is a general partitioned
    sink). Arrays/maps are not CSV-representable — callers serialize them
    (to_json) first; Spark raises otherwise, which is the correct loud
    failure."""
    df.write.mode("overwrite").option("header", header).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink, overwriting ``path`` — schema-preserving for nested
    columns (arrays, structs) that CSV cannot carry."""
    df.write.mode("overwrite").json(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
) -> None:
    """ORC sink, overwriting ``path`` (Spark-native columnar; nested types,
    compression, and partition directories exactly like the parquet sinks —
    for consumers whose warehouse standardizes on ORC rather than parquet).
    A partitioned write replaces only the partitions present in ``df``."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    w.orc(path)


def compact_partitions(spark: SparkSession, path: str) -> None:
    """Small-file compaction for a fragmented (invoice_month, usage_day)
    partitioned table.

    ``write_calculated`` leaves one file per partition; fragmentation comes
    from other writers (an external appender, a plain ``partitionBy`` write
    without clustering), which leave one file per task per day. At 1000
    executors that is thousands of KB-sized files per partition, and
    scan/planning cost grows with file COUNT, not bytes. Compaction rewrites
    the table through ``write_calculated``, so it ends with one file per
    partition. It is merge-ONLY: a layout with at most one file in every
    partition directory is left untouched, so it never rewrites a compact
    table.

    The rewrite replaces each partition atomically or not at all (dynamic
    partition overwrite), and re-running is idempotent — same
    delete-nothing safety the reference's tmp-table swap aimed for
    (reference main.py:172-201). ``path`` may be any Hadoop path (local,
    ``file://``, ``hdfs://``, ...); the layout check lists it through the
    Hadoop FS API, with no data read.
    """
    fs, hpath = _hadoop_fs(spark, path)
    n_files, parts = 0, set()
    files = fs.listFiles(hpath, True)
    while files.hasNext():
        st = files.next()
        if st.getPath().getName().endswith(".parquet"):
            n_files += 1
            parts.add(st.getPath().getParent().toString())
    if n_files <= len(parts):
        return
    # localCheckpoint materializes the rows and severs lineage to the input
    # files — required to overwrite the path being compacted (Spark refuses
    # a write whose plan still scans the destination)
    write_calculated(spark.read.parquet(path).localCheckpoint(), path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    bits: int = 12,
    num_files: int = 8,
) -> None:
    """Z-order (Morton-interleaved) layout, overwriting ``path``: sort the
    data along a
    space-filling curve over ``cols`` so that EVERY listed column has
    narrow per-file min/max ranges — the multi-column data-skipping
    layout (what Delta's OPTIMIZE ZORDER BY provides) that a plain sort
    gives only to its leading column. Parquet footers then let any
    engine prune files for predicates on ANY of the z-columns.

    Mechanics: each column is scaled to a ``bits``-bit bucket between its
    global min/max (one 1-row aggregate, broadcast), buckets are
    bit-interleaved into one BIGINT Morton key, and the frame is
    range-partitioned + sorted by that key. Everything is codegen
    expression work; the only data movement is the one range exchange any
    clustered write pays. At 100 TB raise ``num_files`` to the target
    file-size budget; the curve quality is independent of file count.
    """
    from pyspark.sql.types import DateType, NumericType, TimestampNTZType, TimestampType

    # refuse non-orderable-as-number columns loudly: a string column casts
    # to NULL doubles, the bounds come back NULL, every bucket collapses to
    # 0 and the "z-ordered" layout silently degrades to unclustered
    for c in cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, (NumericType, DateType, TimestampType, TimestampNTZType)):
            raise ValueError(
                f"write_zordered requires numeric/date/timestamp z-columns; "
                f"{c!r} is {dt.simpleString()} — hash it to a number first"
            )
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    bounds = df.agg(*aggs)
    d = df.crossJoin(F.broadcast(bounds))  # 1-row bounds, broadcast
    n = 1 << bits
    k = len(cols)
    bucket_names = []
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        x = F.col(c).cast("double")
        b = (
            F.when(
                hi > lo,
                F.least(F.lit(n - 1), F.floor((x - lo) / (hi - lo) * n)),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
        )
        name = f"__zb_{c}"
        d = d.withColumn(name, b)
        bucket_names.append(name)
    z = None
    for i in range(bits):
        for j, name in enumerate(bucket_names):
            t = F.shiftleft(
                F.shiftright(F.col(name), i).bitwiseAND(F.lit(1)), i * k + j
            ).cast("bigint")
            z = t if z is None else z + t
    helper = [f"__min_{c}" for c in cols] + [f"__max_{c}" for c in cols] + bucket_names
    (
        d.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", *helper)
        .write.mode("overwrite")
        .parquet(path)
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any supported scheme — driver-side metadata
    ops go through Hadoop's FS API so versioning works on HDFS/object
    stores, not just local paths."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def list_versions(spark: SparkSession, table_dir: str) -> list[int]:
    """Snapshot versions present under ``table_dir`` (ascending)."""
    fs, hpath = _hadoop_fs(spark, table_dir)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    return sorted(out)


def current_version(spark: SparkSession, table_dir: str) -> int | None:
    fs, _ = _hadoop_fs(spark, table_dir)
    jvm = spark._jvm
    marker = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/_LATEST")
    if not fs.exists(marker):
        return None
    stream = fs.open(marker)
    try:
        return int(bytes(stream.readAllBytes()).decode().strip())
    finally:
        stream.close()


def _point_latest(spark: SparkSession, table_dir: str, version: int) -> None:
    fs, _ = _hadoop_fs(spark, table_dir)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/_LATEST.tmp")
    marker = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/_LATEST")
    stream = fs.create(tmp, True)
    try:
        stream.write(str(version).encode())
    finally:
        stream.close()
    if fs.exists(marker):
        fs.delete(marker, False)
    fs.rename(tmp, marker)


def write_versioned(df: DataFrame, table_dir: str) -> int:
    """Snapshot-versioned sink: every call lands a COMPLETE snapshot under
    ``v=<N+1>`` and then repoints the ``_LATEST`` marker — cheap time
    travel and instant rollback for dimensions and marts without adopting
    a table format. Readers either follow latest (:func:`read_versioned`)
    or pin a version for reproducible reruns; old snapshots stay
    byte-stable forever (the property training-data lineage audits need).

    The marker flips via write-temp + rename (atomic on HDFS, best-effort
    on object stores) and data lands BEFORE the marker moves, so a reader
    never sees a half-written latest. Single-writer by design — real
    multi-writer commit protocols are what Delta/Iceberg are for; this is
    the honest 90% for dim-sized tables. Returns the new version number.
    """
    versions = list_versions(df.sparkSession, table_dir)
    nxt = (versions[-1] + 1) if versions else 1
    df.write.mode("errorifexists").parquet(f"{table_dir}/v={nxt}")
    _point_latest(df.sparkSession, table_dir, nxt)
    return nxt


def read_versioned(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a pinned snapshot, or the one ``_LATEST`` points at."""
    v = version if version is not None else current_version(spark, table_dir)
    if v is None:
        raise ValueError(f"no versions written at {table_dir}")
    return spark.read.parquet(f"{table_dir}/v={v}")


def rollback_version(spark: SparkSession, table_dir: str, version: int) -> None:
    """Repoint ``_LATEST`` to an existing older snapshot (no data moves)."""
    if version not in list_versions(spark, table_dir):
        raise ValueError(f"version {version} does not exist at {table_dir}")
    _point_latest(spark, table_dir, version)


def vacuum_versions(
    spark: SparkSession, table_dir: str, keep_last: int = 3
) -> list[int]:
    """Delete snapshots older than the newest ``keep_last`` — the storage
    half of the versioned-snapshot contract (every write lands a COMPLETE
    copy, so retention is the only thing keeping a dim's footprint from
    growing linearly with write count). Returns the versions removed.

    The snapshot ``_LATEST`` points at is NEVER deleted, even when older
    than the retention horizon — after a :func:`rollback_version` the
    current table contents may be an old version, and vacuuming the
    rollback target would turn a retention sweep into data loss. Pinned
    readers of other vacuumed versions lose time travel to them; that is
    the documented trade (real expiry bookkeeping — snapshot refs, audit
    holds — is where Delta/Iceberg start, same honesty line as
    write_versioned)."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions = list_versions(spark, table_dir)
    current = current_version(spark, table_dir)
    keep = set(versions[-keep_last:])
    if current is not None:
        keep.add(current)
    fs, _ = _hadoop_fs(spark, table_dir)
    jvm = spark._jvm
    removed = []
    for v in versions:
        if v in keep:
            continue
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{table_dir}/v={v}"), True)
        removed.append(v)
    return removed


def _hashable_columns(df: DataFrame) -> list[str]:
    """Column names with no MapType anywhere in the type tree (top-level,
    array element, struct field). Maps are neither hashable nor
    comparable, so ``snapshot_diff`` leaves them out of change detection."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    return [f.name for f in df.schema.fields if not has_map(f.dataType)]


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level diff between two snapshots of a versioned table: one row
    per key that was ``added``, ``removed``, or ``changed`` between
    ``v_from`` and ``v_to`` (unchanged keys are dropped), with the full
    ``before`` / ``after`` rows as struct columns (NULL on the side the
    key does not exist). The CDC-lite readout a lineage audit wants from
    "what did yesterday's dim write actually do" — computable AFTER the
    fact precisely because snapshots stay byte-stable.

    One key-partitioned full-outer shuffle join; change detection is
    null-safe column equality (NULL -> NULL is unchanged) over the
    comparable columns both snapshots share — MapType-bearing columns
    (not order-comparable) are excluded from change DETECTION but still
    carried in the structs. Keys must uniquely identify rows in each
    snapshot (the dim/mart contract these tables hold by construction);
    duplicate keys fan out through the join as in any CDC diff."""
    have = set(list_versions(spark, table_dir))
    absent = [v for v in (v_from, v_to) if v not in have]
    if absent:
        raise ValueError(
            f"version(s) {absent} do not exist at {table_dir} "
            f"(present: {sorted(have)})"
        )
    before = read_versioned(spark, table_dir, v_from)
    after = read_versioned(spark, table_dir, v_to)
    missing = (set(key_cols) - set(before.columns)) | (
        set(key_cols) - set(after.columns)
    )
    if missing:
        raise ValueError(f"key columns missing from snapshots: {sorted(missing)}")
    shared = [
        c
        for c in before.columns
        if c in set(after.columns) and c not in set(key_cols)
    ]
    comparable = set(_hashable_columns(before)) & set(_hashable_columns(after))
    compare = [c for c in shared if c in comparable]

    b = before.select(
        *[F.col(k).alias(f"_k_{k}") for k in key_cols],
        F.struct(*before.columns).alias("before"),
    )
    a = after.select(
        *[F.col(k).alias(f"_k_{k}") for k in key_cols],
        F.struct(*after.columns).alias("after"),
    )
    joined = b.join(a, on=[f"_k_{k}" for k in key_cols], how="full_outer")
    same = F.lit(True)
    for c in compare:
        same = same & F.col(f"before.{c}").eqNullSafe(F.col(f"after.{c}"))
    change = (
        F.when(F.col("before").isNull(), F.lit("added"))
        .when(F.col("after").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[F.col(f"_k_{k}").alias(k) for k in key_cols],
            "change_type",
            "before",
            "after",
        )
    )
