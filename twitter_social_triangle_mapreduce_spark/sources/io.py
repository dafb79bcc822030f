"""Sources and sinks.

The reference's sole input is ``edges.csv`` — one ``followerId,followeeId``
line per directed follow edge ("X follows Y"; reference
``ExactCardinality.java:35-40``, ``ReplicatedJoinDriver.java:54,58-60``).
Operator S1/S2 of SURVEY.md §2.1: text-line scan + positional CSV split with
int cast. Here that is a schema'd CSV read — the schema reaches the scan, so
Catalyst prunes columns and pushes filters into it.

For the driver's oracle harness the graph queries derive ``edges``
deterministically from the ``events`` table (FIXTURES.md §1), with the SAME
SQL text in Spark and DuckDB so both engines see an identical multi-digraph
(duplicates + self-loops preserved, as reference semantics require).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

#: DuckDB/Spark-portable derivation of the canonical edge list from `events`.
#: Keep this text in sync between queries() and oracle_sql() — both engines
#: must compute the identical graph.
EDGES_FROM_EVENTS_SQL = (
    "SELECT user_id AS src, "
    "(user_id * 37 + event_id * 11 + 7) % 200 AS dst FROM events"
)

#: Canonical edge schema (SURVEY.md §1.3): LongType — the reference implies
#: ids ≥ 7.8M (`ApproxCardinality.java:24`) and Twitter-scale ids overflow
#: int32.
EDGE_SCHEMA = StructType(
    [
        StructField("src", LongType(), nullable=False),
        StructField("dst", LongType(), nullable=False),
    ]
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: wall-clock zero point for every timezone-free timestamp computation
NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ts_ntz_from_nanos(col: str = "ts"):
    """ns-since-epoch BIGINT → TimestampNTZ, truncated to µs, with NO
    session-timezone involvement: ``timestampadd`` on an NTZ base is pure
    wall-clock arithmetic. (A ``timestamp_micros(...).cast('timestamp_ntz')``
    detour goes through TIMESTAMP_LTZ and silently shifts every value by
    the session offset on a non-UTC session.) Integer division is
    essential: ``floor(ts/1000)`` would divide as double, and at ~1.7e18 ns
    the rounded quotient can land one microsecond high (DuckDB's ns→µs
    truncation is exact, so the oracle would diverge)."""
    return F.expr(f"timestampadd(MICROSECOND, {col} div 1000, {NTZ_EPOCH})")


def ntz_epoch_seconds(col: str):
    """TZ-free whole epoch seconds of a TimestampNTZ column — truncating,
    so it equals DuckDB's ``CAST(floor(epoch(ts)) AS BIGINT)`` for
    post-1970 data. Use this instead of ``unix_timestamp(cast(...))``,
    which interprets the wall clock in the session timezone."""
    return F.expr(f"timestampdiff(SECOND, {NTZ_EPOCH}, {col})")


def ntz_epoch_micros(col: str):
    """TZ-free epoch microseconds of a TimestampNTZ column (DuckDB
    ``epoch_us``)."""
    return F.expr(f"timestampdiff(MICROSECOND, {NTZ_EPOCH}, {col})")


def ntz_epoch_div(col: str, divisor: int):
    """TZ-free epoch seconds integer-divided by ``divisor`` — all-integer
    (`div`), never routed through doubles. Spark's ``div`` and DuckDB's
    ``//`` both truncate toward zero (-7 div 2 == -7 // 2 == -3), so the
    two engines agree for ALL epochs, pre-1970 included."""
    return F.expr(
        f"timestampdiff(SECOND, {NTZ_EPOCH}, {col}) div {divisor}"
    )


def ts_ltz_from_ntz(col: str = "ts"):
    """TimestampNTZ wall clock → TIMESTAMP instant whose UTC wall clock
    equals the NTZ value, with NO session-timezone involvement: TZ-free
    epoch-µs extraction (``timestampdiff`` from the NTZ epoch) followed by
    ``timestamp_micros`` (epoch µs → instant, no wall-clock
    interpretation). A plain ``cast('timestamp')`` would instead interpret
    the wall clock in the session timezone and shift every instant by the
    session offset."""
    return F.timestamp_micros(ntz_epoch_micros(col))


def ts_ltz_from_nanos(col: str = "ts"):
    """ns-since-epoch BIGINT → TIMESTAMP (an instant). Used by the
    STREAMING reader only: Spark's event-time machinery
    (``withWatermark``) requires TIMESTAMP, rejecting TIMESTAMP_NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The value is still
    session-timezone-free — ``timestamp_micros`` maps epoch µs to an
    instant with no wall-clock interpretation — and because the source
    nanos are UTC-epoch-based, the instant's UTC wall clock equals the
    batch reader's NTZ wall clock (``ts_ntz_from_nanos``), so tumbling /
    session window boundaries agree between batch and stream."""
    return F.timestamp_micros(F.expr(f"{col} div 1000"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (columnar parquet scan, vectorized).

    The library owns its read path: the driver's harness (and any user)
    may build a vanilla ``SparkSession.builder.getOrCreate()``, so the
    parquet-nanos compatibility conf is set HERE (it is runtime-settable),
    not only in ``session.get_spark``. ``events.ts`` is stored as parquet
    TIMESTAMP(NANOS); how Spark surfaces it is version-dependent, and this
    function normalizes both paths to the same TimestampNTZ wall clock:

    - Spark ≥ 4.1 reads it natively as TimestampNTZ (µs truncation) — the
      guard below sees ``timestamp_ntz`` and passes it through;
    - older Spark rejects it (PARQUET_TYPE_ILLEGAL) unless
      ``nanosAsLong`` is set, in which case it arrives as BIGINT
      nanoseconds and ``ts_ntz_from_nanos`` converts — TZ-free, same
      truncation.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", ts_ntz_from_nanos("ts"))
    return df


def derive_edges(events: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """Map an events-shaped DataFrame (``user_id``, ``event_id``) to the
    canonical ``edges(src, dst)`` relation — the ONE implementation of
    ``EDGES_FROM_EVENTS_SQL``'s arithmetic, shared by the batch queries
    and every streaming variant so the derivations can never diverge.
    ``keep`` carries extra columns (e.g. ``ts``) through."""
    return events.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 37 + F.col("event_id") * 11 + 7) % 200).alias("dst"),
        *(keep or []),
    )


def edges_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical directed multigraph, derived from ``events``.

    Matches ``EDGES_FROM_EVENTS_SQL`` exactly: one edge per event row, so
    duplicates and self-loops occur naturally (reference semantics §2.7.3-4).
    All arithmetic is BIGINT and stays JVM-side.
    """
    return derive_edges(load_table(spark, sf_dir, "events"))


def read_edges_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-format ``edges.csv`` (S1+S2 of SURVEY.md §2.1).

    Explicit schema → no inference pass, filters/pruning push into the scan.
    Malformed rows fail loudly (mode FAILFAST), matching the reference's
    crash-not-skip behavior on bad input (§2.7.6 — `Integer.parseInt` throws).

    A glob ``path`` (the CLI passes ``<input-dir>/*.csv``) is expanded on
    the driver first. Given a single glob string, Spark probes it for a
    streaming sink's metadata log and logs the probe's
    ``FileNotFoundException`` with a stack trace on every read. The
    expansion is Hadoop's ``globStatus``, the call Spark's own resolution
    makes, so the same files are read; a glob that matches nothing is
    passed through and fails as before.
    """
    reader = spark.read.schema(EDGE_SCHEMA).option("mode", "FAILFAST")
    return reader.csv(_glob_paths(spark, path))


def _glob_paths(spark: SparkSession, path: str) -> str | list[str]:
    """The paths a Hadoop glob matches, or ``path`` itself if none (or if
    the session is a Spark Connect client, which has no driver JVM)."""
    if type(spark).__module__.startswith("pyspark.sql.connect"):
        return path
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(path)
    fs = pattern.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    matches = fs.globStatus(pattern)
    if not matches:
        return path
    return [m.getPath().toString() for m in matches]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every testdata table plus the derived ``edges`` relation as
    temp views — the SQL-first entry point the reference never had: after
    this, ``spark.sql("SELECT ... FROM edges e1 JOIN edges e2 ...")`` runs
    any engine query in plain SQL."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW edges AS {EDGES_FROM_EVENTS_SQL}"
    )


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink (one object per line, gzip) — interchange format
    for downstream non-Spark consumers."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def read_json_table(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema'd JSON-lines reader (the ``write_json`` sink's counterpart).
    An explicit schema is mandatory: inference would scan the data twice
    and silently widen types (a bigint column with one null becomes
    double under inference); FAILFAST surfaces corrupt lines instead of
    nulling them — same crash-not-skip stance as the CSV reader."""
    return (
        spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    )


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (zlib, Spark-native vectorized writer) — the columnar
    interchange format for Hive/Trino-adjacent consumers; same
    predicate-pushdown and column-pruning behavior as parquet."""
    df.write.mode("overwrite").option("compression", "zlib").orc(path)


def read_orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader (vectorized, filters/pruning reach the scan exactly as
    with parquet — asserted in tests/test_sql_surface_and_sinks.py)."""
    return spark.read.orc(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-partitioned parquet sink: readers filtering on the partition
    columns get partition pruning (directories skipped before any file
    I/O) — the layout a 100 TB corpus would use for its coarse keys."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact_parquet(
    spark: SparkSession, src_path: str, dst_path: str, target_file_mb: int = 256
) -> int:
    """Rewrite a parquet dataset into ~``target_file_mb`` files and return
    the output file count. Streaming sinks and fine-grained ingestion
    leave thousands of tiny files; at 100 TB, listing and opening them
    dominates scan time (the "small files problem"), and compaction to
    row-group-sized files is the standard maintenance job. The target
    count comes from the dataset's ACTUAL on-disk bytes via the Hadoop
    FileSystem API (works unchanged on HDFS/S3A, not just local paths),
    never from row counts — compressed width per row varies wildly."""
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    size_bytes = fs.getContentSummary(hpath).getLength()
    n = max(1, math.ceil(size_bytes / (target_file_mb * 1024 * 1024)))
    spark.read.parquet(src_path).repartition(n).write.mode(
        "overwrite"
    ).parquet(dst_path)
    return n


def write_zordered_parquet(
    df: DataFrame, path: str, z_sql: str, n_files: int = 8
) -> None:
    """Z-ordered parquet sink: attach the Morton code built by
    ``functions.zorder`` (``z_sql``), range-partition on it, sort each
    file by it, and write — rows close in EVERY curve dimension land in
    the same file, so per-file min/max stats stay tight on all of them
    and scans filtering on ANY dimension skip most files (a linear sort
    serves only its leading column). ``repartitionByRange`` samples the
    z-value distribution, so files are balanced even when the dimensions
    are skewed. The written ``zval`` column is the curve position —
    harmless to readers, useful for debugging and range-addressed
    maintenance jobs."""
    out = df.withColumn("zval", F.expr(z_sql))
    (
        out.repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    n_buckets: int,
    key_cols: list[str],
    sort: bool = True,
) -> None:
    """Bucketed managed-table sink: tables written with the same
    bucketing on their join key co-locate, so a recurring equi-join
    between them needs NO exchange on either side — at 100 TB the
    difference between shuffling the fact table on every query and never
    shuffling it (plan-asserted in
    tests/test_components_and_scale.py::test_bucketed_join_avoids_shuffle).
    ``sort`` additionally orders each bucket on the key, removing the
    per-task sort from sort-merge joins."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *key_cols)
    if sort:
        writer = writer.sortBy(*key_cols)
    writer.saveAsTable(name)


def write_tsv(df: DataFrame, path: str) -> None:
    """S5 text sink: tab-separated lines, mirroring the reference's
    ``mapreduce.output.textoutputformat.separator=\\t``
    (``SocialTriangle_RS.java:202``)."""
    df.write.mode("overwrite").option("sep", "\t").csv(path)
