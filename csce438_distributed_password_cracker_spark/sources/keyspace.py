"""Generated keyspace source — the Spark analog of the reference's virtual
candidate space (request.c:40-47; materialized one-at-a-time by
pass_increment, worker.c:21-39,77-101).

``spark.range`` is a *splittable generated source*: no data is read, every
partition knows its [start, end) ordinals, and the decode expression runs
inside whole-stage codegen.  This is exactly the reference's range-split
(server.c:387-434) done right: contiguous, gap-free, no overshoot, and the
partition count scales with the keyspace instead of being capped at 11
workers (server.c:240,349-352).

Scale design: partition sizing targets ~CANDIDATES_PER_TASK ordinals per
task through width 8 (≈2.1e11 → ~52k tasks); the 1M-task cap binds from
width 9 (per-task size grows — see ``num_partitions_for`` for the
honest envelope and the chunked-ordinal-loop recipe beyond it); the
driver never materializes candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import codec

# ~4M sha-evaluations per task ≈ seconds of work — large enough to amortize
# task launch, small enough for load balancing and early-stop chunking.
CANDIDATES_PER_TASK = 4_000_000


def num_partitions_for(count: int, spark: SparkSession) -> int:
    """Partitions sized to ~CANDIDATES_PER_TASK ordinals each, capped at
    1M tasks (Spark schedules millions of tasks fine; the cap guards
    the degenerate widths).  The cap binds above ~4e12 ordinals
    (width ≥ 9), where per-task size grows past the target — width 9 is
    ~5.4M ordinals/task at the cap, width 10 ~141M (minutes of SHA per
    task).  Beyond that, drive the search with
    ``operators.crack.crack_chunked``: the windowed crack scan over
    successive [lo, hi] chunks (the SURVEY §4.4 recipe), which also
    bounds wasted work on a hit."""
    base = max(1, min(count // CANDIDATES_PER_TASK + 1, 1_000_000))
    return max(base, min(spark.sparkContext.defaultParallelism, count))


def keyspace(
    spark: SparkSession,
    width: int,
    lower_ord: int = 0,
    upper_ord: int | None = None,
    column: str = "candidate",
    with_ordinal: bool = False,
    _num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame of fixed-``width`` lowercase candidates with ordinals in
    ``[lower_ord, upper_ord]`` (inclusive, mirroring the reference's
    inclusive bounds, worker.c:93-96). Defaults to the full space
    a^width..z^width (request.c:40-47).  ``_num_partitions`` (internal)
    overrides :func:`num_partitions_for` — the crack scan's window
    layout, operators/crack.py."""
    n = codec.keyspace_size(width)
    hi = n - 1 if upper_ord is None else upper_ord
    if not (0 <= lower_ord <= hi < n):
        raise ValueError(f"bad ordinal range [{lower_ord}, {hi}] for width {width}")
    count = hi - lower_ord + 1
    parts = _num_partitions or num_partitions_for(count, spark)
    df = spark.range(lower_ord, hi + 1, 1, parts)
    decoded = df.selectExpr(
        "id AS ordinal", f"{codec.decode_sql('id', width)} AS {column}"
    )
    return decoded if with_ordinal else decoded.select(column)


def keyspace_sql_duckdb(
    width: int,
    lower_ord: int = 0,
    upper_ord: int | None = None,
    column: str = "candidate",
) -> str:
    """DuckDB oracle spelling of :func:`keyspace` (range() + chr-concat)."""
    n = codec.keyspace_size(width)
    hi = n - 1 if upper_ord is None else upper_ord
    return (
        f"SELECT range AS ordinal, {codec.decode_duckdb('range', width)} AS {column} "
        f"FROM range({lower_ord}, {hi + 1})"
    )
