"""Loaders for the driver-generated test tables (TESTDATA.md).

One parquet file per table under ``/root/testdata/sf*/``.  All engine
queries take an explicit ``sf_dir`` so the same plan runs at any scale
factor — and, at 100 TB, against a partitioned table directory instead of a
single file (``spark.read.parquet`` handles both transparently).
"""

from __future__ import annotations

import glob
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
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

_log = logging.getLogger(__name__)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Some driver generations store ts as TIMESTAMP(NANOS), which Spark's
        # parquet reader rejects unless nanosAsLong is set; in that mode the
        # column arrives as int64 nanos and is floored to a microsecond
        # timestamp (matches DuckDB's ns→us cast).  Other generations store
        # TIMESTAMP(MICROS), which reads as a timestamp directly — detect by
        # the materialized dtype rather than assuming one layout.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # The MICROS parquet layout reads as TIMESTAMP_NTZ; normalize to
            # TIMESTAMP (identity under the session's pinned UTC tz) so every
            # consumer sees one dtype regardless of the driver's layout.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def _parquet_row_groups(path: str, enough: int) -> int | None:
    """Total row groups across the parquet files under ``path`` (a file
    or a directory), read from footers driver-side; stops counting once
    ``enough`` is reached (only the comparison against the floor is
    needed, so a production layout pays one or two footer reads, not a
    full listing scan).  Returns None when the layout cannot be
    inspected locally (non-local scheme, no files) — callers fall back
    to planned-split counting."""
    try:
        import pyarrow.parquet as _pq
        from pyarrow.lib import ArrowInvalid
    except ImportError as e:
        _log.warning("cannot count parquet row groups (%s); falling back to "
                     "planned-split counting", e)
        return None
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    elif os.path.isfile(path):
        files = [path]
    else:
        return None
    if not files:
        return None
    n = 0
    try:
        for f in files:
            n += _pq.ParquetFile(f).metadata.num_row_groups
            if n >= enough:
                return n
    except (OSError, ArrowInvalid) as e:
        # unreadable file or corrupt footer: an I/O condition, not a bug
        _log.warning("cannot read parquet footer under %s (%s); falling "
                     "back to planned-split counting", path, e)
        return None
    return n


def fan_out_scan(
    df: DataFrame,
    key: str,
    min_parts: int | None = None,
    source_path: str | None = None,
) -> DataFrame:
    """Scan-parallelism floor for row-group-bound inputs (opt guide §2.5).

    A parquet file is split into byte-range tasks, but a ROW GROUP is the
    unit a task actually reads — a single file with one row group plans as
    ONE scan task no matter the core count, so heavy per-row map work on
    it runs serially (measured: q_text_profile's battery 2.6 s wall ≈ its
    3.1 CPU-s on local[32] — parallelism 1.0).  This is the guide's "one
    huge unsplittable file" case: repartition immediately after the read.

    The repartition fires ONLY when the planned scan parallelism is below
    the target, so it is scale-adaptive, not a local[32] constant: a
    production layout (many files / many row groups) already plans more
    scan tasks than the floor and this is a no-op; a low-core bench run
    fans out to a floor derived from its own ``defaultParallelism``.

    Two measured choices (all numbers: q_text_profile battery, sf0.1,
    local[32], best-of-3 noop runs, JVM-tree CPU):

    - HASH partitioning on the caller's unique key, NOT round-robin:
      keyless ``repartition(n)`` first pays a local sort of the full
      input rows (``spark.sql.execution.sortBeforeRepartition``, needed
      for retry determinism) — measured 1.2-1.5 CPU-s just to move 5k
      text rows, vs 0.2-0.5 for the hash exchange on doc_id.
    - Floor = ``max(2, cores // 4)``, not ``cores``: the per-row work
      parallelizes but concurrent heavy tasks contend (alloc/GC/memory
      bandwidth billed as CPU): serial = 2.6 s wall / 3.1 CPU; hash8 =
      0.65 / 5.0; hash16 = 0.54 / 5.8; hash32 = 0.43 / 7.0.  cores//4
      takes most of the wall win at the small end of the CPU overhead.

    Guard semantics (round 12, ADVICE r11): when ``source_path`` names
    the parquet source, effective parallelism is counted as ROW GROUPS
    from the file footers — a row group is the unit a scan task actually
    reads, so a single-row-group file larger than ``maxPartitionBytes``
    plans several byte-range splits of which only one does the work;
    the planned-split count would wrongly skip the repartition in
    exactly the one-huge-unsplittable-file case this helper exists for.
    The footer count stops as soon as the floor is met (a production
    layout pays one or two footer reads).  Without ``source_path`` (or
    when the path is not locally inspectable) the guard falls back to
    ``df.rdd.getNumPartitions()`` — planned splits, valid only for
    SCAN-ONLY inputs: ``.rdd`` forces physical planning per call and
    under AQE would eagerly materialize upstream shuffle stages, so do
    not hand this helper a frame with exchanges below it.
    """
    sess = df.sparkSession
    target = (
        min_parts
        if min_parts is not None
        else max(2, sess.sparkContext.defaultParallelism // 4)
    )
    if source_path is not None:
        n = _parquet_row_groups(source_path, target)
        if n is not None:
            if n >= target:
                return df
            return df.repartition(target, F.col(key))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))
