"""Q-CORE: the reference's canonical query (SURVEY.md §0) as a Spark plan.

    SELECT min(candidate) FROM base26_range(:lower, :upper)
    WHERE sha1_hex(candidate) = :hash;   -- NULL ⇒ 'x'

Semantics ported:
- hash-equality filter  = worker.c:41-56 (SHA-1 → 40 lowercase hex → compare)
- existential verdict   = server.c:243-273 (any found ⇒ 'f <pass>', all
  exhausted ⇒ 'x')
- determinism divergence: the reference answers with whichever worker's
  'f' arrives first (race, server.c:275-306); we answer min(candidate) —
  deterministic, required for oracle hash-matching (SURVEY.md §2.5 A2).
- early termination     = the coordinator hands every worker its range at
  once and answers on the first 'f' (server.c:387-434, worker.c:84-91).
  ``crack`` scans in *windows*: the filtered keyspace is planned once over
  ``cores × w`` contiguous ascending ordinal partitions (``w ≥ 4``,
  :func:`_scan_partitions`), and each window of ``cores`` partitions —
  one per core — is submitted as its own job, in ascending order.  The
  scan stops after the first window that returns a row; later windows
  are never launched, and no task is ever cancelled.

Why the answer is the deterministic min (A2): windows ascend, each one is
scanned in full, and every ordinal of a later window exceeds every
ordinal of an earlier one.  So the lowest ordinal of the first non-empty
window is the lowest match of the whole range.  tests/test_crack.py pins
this against the full-aggregation min at every window boundary.

Why one plan: every window is a partition subset of the same DataFrame,
so planning and whole-stage codegen happen once per request.  A
DataFrame per window costs ~0.1 s of planning each, and since ``Range``
inlines its start and length into the generated code, every window would
also run a new, cold class.

Why the private job route: ``PythonRDD.runJob`` over ``javaToPython()``
runs chosen partitions of the JVM plan and streams the pickled rows back
— the path ``DataFrame.rdd`` and ``SparkContext.runJob`` use inside.  The
public ``sc.runJob(df.rdd, f, parts)`` maps a Python function over each
partition, which puts a Python worker under every task (+0.14 s per
window, and the workers' memory).  Spark's incremental take path (what
a one-row probe plans to) ramps instead: one partition alone, then 4×
more, so a hit outside partition 0 pays two full partition times while
the other cores idle through the first.  tests/test_crack.py pins the
route, so a PySpark change that moves it fails loudly.

Scale: a width-8 space is 2.1e11 candidates in ~52k partitions of ~4M
ordinals (sources/keyspace.py).  Latency-to-first-hit is bounded by the
windows actually scanned, independent of total keyspace size; a miss
still costs the full scan — exactly the reference's exhaustion behavior
(worker.c:103-107).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.core.rdd import _load_from_socket
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..sources.keyspace import keyspace, num_partitions_for

#: fewest windows a scan is cut into: a hit in window k costs k window
#: times, so more windows trim the expected scan — 8 measured no better
#: than 4 at width 5 on 4 cores, where each extra job costs its launch
MIN_WINDOWS = 4


@dataclass(frozen=True)
class CrackResult:
    """Reply semantics of server.c:251-262: 'f <pass>' or 'x'."""

    found: bool
    password: str | None

    @property
    def reply(self) -> str:
        return f"f {self.password}" if self.found else "x"


def candidates_matching(
    spark: SparkSession,
    digest: str,
    width: int,
    lower_ord: int = 0,
    upper_ord: int | None = None,
    hash_func: str = "sha1",
    with_ordinal: bool = False,
    _num_partitions: int | None = None,
) -> DataFrame:
    """All candidates in the (inclusive) ordinal range whose hash equals
    ``digest``.  ``hash_func``: 'sha1' (reference fidelity, worker.c:50-54 —
    F.sha1 emits the identical 40-char lowercase hex) or 'sha256' (oracle
    path; pinned DuckDB lacks sha1, SURVEY.md §2.8 F1).
    ``_num_partitions`` (internal) is passed through to :func:`keyspace`."""
    ks = keyspace(
        spark, width, lower_ord, upper_ord,
        with_ordinal=with_ordinal, _num_partitions=_num_partitions,
    )
    col = F.col("candidate")
    hashed = F.sha1(col) if hash_func == "sha1" else F.sha2(col, 256)
    return ks.filter(hashed == F.lit(digest.lower()))


def crack_verdict_df(
    spark: SparkSession,
    digest: str,
    width: int,
    lower_ord: int = 0,
    upper_ord: int | None = None,
    hash_func: str = "sha1",
) -> DataFrame:
    """One-row verdict: (found BOOLEAN, password STRING|NULL).

    min() gives the deterministic A2 semantics; count>0 is the existential
    A1 aggregation (max-of-boolean over workers, server.c:243-273).
    """
    matches = candidates_matching(spark, digest, width, lower_ord, upper_ord, hash_func)
    return matches.agg(
        (F.count("*") > 0).alias("found"),
        F.min("candidate").alias("password"),
    )


def _scan_partitions(spark: SparkSession, count: int) -> int:
    """Partition count of a crack scan over ``count`` ordinals: whole
    windows of ``defaultParallelism`` partitions, at least
    :data:`MIN_WINDOWS` of them, and never coarser than
    :func:`num_partitions_for`."""
    cores = spark.sparkContext.defaultParallelism
    windows = max(MIN_WINDOWS, -(-num_partitions_for(count, spark) // cores))
    return cores * windows


def _collect_partitions(spark: SparkSession, jrdd, parts: list[int]) -> list[Row]:
    """Rows of partitions ``parts`` of ``jrdd`` (a ``javaToPython()``
    RDD of pickled rows), computed as one job that starts no Python
    worker."""
    sc = spark.sparkContext
    sock_info = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, parts)
    return list(_load_from_socket(sock_info, BatchedSerializer(CPickleSerializer())))


def _first_match(
    spark: SparkSession,
    digest: str,
    width: int,
    lo: int,
    hi: int,
    hash_func: str,
) -> str | None:
    """Lowest-ordinal candidate in ``[lo, hi]`` whose hash is ``digest``,
    or None: ascending windows of ``defaultParallelism`` partitions of
    one filtered plan, stopping at the first window with a match (the
    module docstring gives the A2 argument)."""
    cores = spark.sparkContext.defaultParallelism
    parts = _scan_partitions(spark, hi - lo + 1)
    jrdd = candidates_matching(
        spark, digest, width, lo, hi, hash_func,
        with_ordinal=True, _num_partitions=parts,
    )._jdf.javaToPython()
    for start in range(0, parts, cores):
        rows = _collect_partitions(spark, jrdd, list(range(start, start + cores)))
        if rows:
            return min(rows, key=lambda r: r["ordinal"])["candidate"]
    return None


def crack(
    spark: SparkSession,
    digest: str,
    width: int,
    hash_func: str = "sha1",
) -> CrackResult:
    """Full-space crack with early termination (SURVEY.md §4.4).

    Ascending full-width windows over one plan (:func:`_first_match`): a
    hit in window k runs k jobs of one task per core and leaves the rest
    of the space *unlaunched*; the answer is the deterministic min.  A
    miss scans every partition once, as the reference's exhaustion path.
    """
    hit = _first_match(spark, digest, width, 0, codec.keyspace_size(width) - 1, hash_func)
    return CrackResult(hit is not None, hit)


def crack_chunked(
    spark: SparkSession,
    digest: str,
    width: int,
    lower_ord: int = 0,
    upper_ord: int | None = None,
    chunk_ordinals: int = 256 * 4_000_000,
    hash_func: str = "sha1",
) -> CrackResult:
    """The SURVEY §4.4 chunked ordinal loop — the drive shape for
    spaces past the honest partition-sizing envelope (width ≥ 9, where
    ``num_partitions_for``'s 1M-task cap makes per-task size grow) and
    for targeted sub-range requests at any width (server.c:403-434).

    Successive inclusive ``[lo, hi]`` chunks of ``chunk_ordinals``
    each run the same windowed scan as :func:`crack`; a hit in chunk i
    means chunks > i are never SUBMITTED (driver-level early stop,
    bounding wasted work to < one chunk beyond the hit), and within the
    hit chunk the windows past the hit are never launched.  Chunks
    ascend and each answers its lowest-ordinal match, so the answer is
    the deterministic min over the whole range — A2 semantics, same
    verdict as one :func:`crack_verdict_df` over ``[lower_ord,
    upper_ord]``.  A miss exhausts every chunk to 'x', the reference's
    exhaustion path (worker.c:103-107, server.c:257-262).
    """
    if chunk_ordinals < 1:
        raise ValueError(f"chunk_ordinals must be ≥ 1, got {chunk_ordinals}")
    n = codec.keyspace_size(width)
    hi = n - 1 if upper_ord is None else upper_ord
    lo = lower_ord
    while lo <= hi:
        chunk_hi = min(lo + chunk_ordinals - 1, hi)
        hit = _first_match(spark, digest, width, lo, chunk_hi, hash_func)
        if hit is not None:
            return CrackResult(True, hit)
        lo = chunk_hi + 1
    return CrackResult(False, None)
