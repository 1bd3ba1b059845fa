"""SparkSession factory.

Local-mode testing rides ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
this process may run on, single JVM).  The configs are chosen to be
correct at cluster scale too:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for *some* stage; AQE re-plans.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this is overridden (or AQE coalesces it).
- Arrow enabled so the pandas_udf slow-path is batched, never row-at-a-time.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- ``-XX:GCTimeRatio=6`` on the driver JVM (local mode runs every task in
  it).  A crack scan keeps every core allocating short-lived garbage per
  candidate (a ``MessageDigest`` per ``sha1``, the hex strings), and
  G1's default ratio of 12 answers that by growing the heap.  Those
  young collections have almost no survivors, so collecting more often
  costs little.  Width-5 crack loop, 4-core host, median peak RSS:
  1432 MB before the windowed scan (operators/crack.py); with it, 1188
  at ratio 4, 1304 at 6, 1504 at 9.  6 is the largest of these that
  keeps the crack at or below its old footprint, and the gentler choice
  for paths with more live data (dedup).  The flag goes through
  ``spark.driver.defaultJavaOptions`` because callers set
  ``spark.driver.extraJavaOptions`` (perfbench does), and setting that
  key replaces whatever it held; the launcher passes both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP = "pwdcrack-spark-engine"
#: driver JVM flags set under every caller's extraJavaOptions (see above)
GC_JAVA_OPTIONS = "-XX:GCTimeRatio=6"


def cpu_count() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores visible to this process
    (its affinity mask, so a container's cpuset is respected) — never more
    local threads than the host can run."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = DEFAULT_APP,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — small enough
    that tiny test shuffles don't pay 200-task overhead, large enough to use
    every core.  AQE coalescing makes the exact number non-critical.
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides the default (explicit
    argument still wins) — used to confirm no plan silently depends on
    the partition count (BASELINE.md §C.11).
    """
    cpus = cpu_count()
    env_sp = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or env_sp or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Files: default 128m partitions; keep parquet vectorized reader on.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as int64 + convert
        # (catalog.load_table does the conversion).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Codegen class cache (round 12): the default 100 entries is
        # smaller than ONE pass of this engine's query corpus (q_tpch's
        # 22 branches alone overflow it), so a resident session
        # re-running query shapes recompiles every generated class every
        # time — and, worse, each recompile is a NEW class that restarts
        # HotSpot's tiered compilation, so the hot loops re-run
        # interpreted/C1.  Measured at sf0.1: q_crack_batch's warm-pass
        # executor CPU is 10-13 s with the default cache and 1.3 s once
        # the classes survive between runs (the keyspace-scan work
        # itself); q_tpch's warm pass drops ~6 CPU-s.  4096 compiled
        # classes ≈ low hundreds of MB of metaspace — sized for a
        # resident engine, not for this box (the cache is bounded
        # either way).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.defaultJavaOptions", GC_JAVA_OPTIONS)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
