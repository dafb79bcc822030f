"""SparkSession factory.

The engine targets a large multi-executor cluster; locally we run
``local[$SPARK_GRAFT_CPUS]``. All scale-sensitive knobs live here so every
entry point (tests, bench, driver harness) gets the same tuned session:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  selection) — replaces the reference's hand-tuned memory / join-strategy
  choices (reference ``SocialTriangle_RS.java:198`` heap tuning,
  ``ReplicatedJoinDriver.java:136`` map-only config).
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a real
  cluster AQE coalesces from a deliberately high initial number.
- Broadcast threshold raised: the graph queries' filtered edge sets and the
  dimension tables are small relative to the fact side.
- A fixed JIT profile for the driver JVM (``DRIVER_JIT_PROFILE``). The
  reference programs and the query surface are short runs: one cold CLI
  process per program, or many small queries in one session. The largest
  share of their CPU (about 45 % of a ``warm-core`` run's JVM CPU) went
  to HotSpot's C2 compiler, re-optimising each query's freshly generated
  classes and Catalyst's planner code, most of which runs too briefly to
  repay it. The profile raises the C2 (tier-4)
  compile thresholds 10x, so only genuinely hot code (long task loops) is
  still compiled by C2 and one-off planner and codegen code stays at C1.
  On a 4-core host (``local[4]``, 10 alternating benchmark pairs) it cut
  the sentinel-scaled ``cpu_s`` median on ``warm-core`` from 80 to 61
  CPU-s and on the cold CLI run from 23.5 to 18.1, and ``setup_s`` from
  about 14 to 10, with walls unchanged within noise; the C2 thread's own
  CPU fell by about two thirds. C1 alone (``-XX:TieredStopAtLevel=1``)
  saves more on short runs but was rejected: steady-state task code then
  never reaches C2, and a warm 2M-edge ordered triangle count took about
  a third longer and a third more CPU.

  The profile goes in ``spark.driver.defaultJavaOptions``. Spark puts that
  option before ``spark.driver.extraJavaOptions`` and
  ``--driver-java-options``, and HotSpot keeps the last occurrence of a
  flag, so flags a user or harness passes still win. An ``extra_conf``
  entry for ``spark.driver.defaultJavaOptions`` replaces the profile, and
  the profile replaces a value for that key from ``spark-defaults.conf``.
  It takes effect only
  when ``get_spark`` launches the JVM: a session that already exists, or
  one a harness builds itself, keeps the JVM it has. Executor JVMs on a
  cluster are left alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Spark's RocksDB state store provider (bundled since 3.2). The default
#: HDFS-backed store keeps every streaming-state key on the JVM heap —
#: fine locally, lethal for 100 TB stream-stream joins / dedup whose
#: bounded-event-time state still reaches tens of GB per executor.
#: RocksDB keeps state off-heap on local disk with incremental
#: (changelog) checkpointing to the checkpoint location.
ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


#: HotSpot's tier-4 (C2) compile thresholds, each 10x its default. Set as
#: the driver JVM's ``spark.driver.defaultJavaOptions``; see the module
#: docstring for why and for what was measured.
DRIVER_JIT_PROFILE = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)


def rocksdb_state_conf() -> dict[str, str]:
    """Session confs that move streaming state to RocksDB. Pass to
    ``get_spark(extra_conf=...)`` at session build, or set via
    ``spark.conf.set`` before ``start()`` — the provider is read per
    streaming query at start time."""
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            ROCKSDB_STATE_STORE_PROVIDER
        ),
        # incremental state commits per batch instead of full snapshot
        # uploads — the difference between O(delta) and O(state) per
        # micro-batch at scale
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true"
        ),
    }


def get_spark(
    app_name: str = "twitter-social-triangle-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` if the
    env var is unset). On a real cluster, pass ``master=None`` and submit
    through ``spark-submit`` — the builder respects an existing session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # filtered edge sets / dims broadcast comfortably; 64 MiB leaves
        # headroom without risking driver OOM at local scale
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata's events.ts is parquet TIMESTAMP(NANOS) which vanilla
        # Spark rejects; read as long and convert in sources.io.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_PROFILE)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
