"""Declared keyspace / codec / crack / partition-algebra queries
(SURVEY.md §2.1 S1, §2.2 P1+P4, §2.3 X1, §2.5 A2, §2.7, §2.8 F1+F2, §2.11).

These need no stored table: the source is the generated keyspace
(``spark.range`` + base-26 decode) and the oracle side is DuckDB ``range()``.

Hash note (SURVEY.md §2.8 F1): the pinned DuckDB (1.0.0) has no sha1(), so
oracle-checked hash queries use sha256 (Spark ``sha2(col,256)`` ⇔ DuckDB
``sha256()``).  SHA-1 reference fidelity (worker.c:50-54 format) is asserted
in tests/test_crack.py against hashlib.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..sources.keyspace import keyspace, keyspace_sql_duckdb
from .registry import register

# sha256 targets, derived from the pinned FIXTURES.md plains.
HIT4 = hashlib.sha256(b"code").hexdigest()
# Negative control: preimage contains non-[a-z] chars, so no hit exists in
# any fixed-width lowercase space (FIXTURES.md's negative-control pattern).
MISS3 = hashlib.sha256(b"NOPE!").hexdigest()

WORKERS = 11  # reference's effective per-request parallelism (server.c:240,349-352)


def _split_exprs(width: int, idcol: str, k: int = WORKERS, long_suffix: str = "L") -> list[str]:
    """The reference's range-split algebra (server.c:387-434) as select-list
    expressions over a k-row integer source: per = (n-1) div k; contiguous
    inclusive subranges [i*(per+1), i*(per+1)+per].  The last subrange
    overshoots by the integer-division remainder — reproduced faithfully
    because this query *documents* the reference algebra (divergence X2 is
    about the engine's own scan partitioning, which uses spark.range's
    exact splits).
    """
    n = codec.keyspace_size(width)
    per = (n - 1) // k
    size = f"{per + 1}{long_suffix}" if long_suffix else f"CAST({per + 1} AS BIGINT)"
    return [
        f"{idcol} AS worker_id",
        f"{idcol} * {per + 1} AS lo",
        f"{idcol} * {per + 1} + {per} AS hi",
        f"{size} AS subrange_size",
    ]


def _split_sql_duckdb(width: int, k: int = WORKERS) -> str:
    exprs = _split_exprs(width, "range", k, long_suffix="")
    return "SELECT " + ", ".join(exprs) + f" FROM range({k})"


@register(
    "q_crack_verdicts",
    oracle=f"""
    SELECT 'hit_w4' AS case_label, count(*) > 0 AS found,
           min(candidate) AS password, count(*) AS n_matches
    FROM ({keyspace_sql_duckdb(4)}) WHERE sha256(candidate) = '{HIT4}'
    UNION ALL
    SELECT 'miss_w3' AS case_label, count(*) > 0 AS found,
           min(candidate) AS password, count(*) AS n_matches
    FROM ({keyspace_sql_duckdb(3)}) WHERE sha256(candidate) = '{MISS3}'
    UNION ALL
    SELECT 'prefix_w3' AS case_label, count(*) > 0 AS found,
           min(candidate) AS password, count(*) AS n_matches
    FROM ({keyspace_sql_duckdb(3)}) WHERE substring(sha256(candidate), 1, 2) = 'ab'
    """,
    doc="Q-CORE verdict triptych in one labeled union (merged hit/miss/min "
    "so the 50-entry driver gate covers each case): hit — width-4 space, "
    "hash-equality filter (worker.c:41-56); miss — exhausted space ⇒ "
    "found=false, the 'x' reply path (worker.c:103-107, server.c:257-262); "
    "prefix — many matches resolved deterministically by lexicographic min "
    "(A2; replaces the reference's first-arrival race, server.c:275-306).",
)
def q_crack_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    def case(label: str, width: int, pred) -> DataFrame:
        return (
            keyspace(spark, width)
            .filter(pred)
            .agg(
                (F.count("*") > 0).alias("found"),
                F.min("candidate").alias("password"),
                F.count("*").alias("n_matches"),
            )
            .select(F.lit(label).alias("case_label"), "found", "password", "n_matches")
        )

    digest = F.sha2(F.col("candidate"), 256)
    return (
        case("hit_w4", 4, digest == HIT4)
        .unionAll(case("miss_w3", 3, digest == MISS3))
        .unionAll(case("prefix_w3", 3, digest.substr(1, 2) == "ab"))
    )


@register(
    "q_partition_coverage",
    oracle=_split_sql_duckdb(4),
    doc="X1: the reference's even range split (server.c:387-434) — "
    "contiguous inclusive subranges, per = (n-1) div k, last overshoots "
    "by the remainder (X2, documented).",
)
def q_partition_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(WORKERS).selectExpr(*_split_exprs(4, "id"))


@register(
    "q_keyspace_algebra",
    oracle=f"""
    WITH split AS ({_split_sql_duckdb(3)}),
    covered AS (SELECT unnest(generate_series(lo, hi)) AS ordinal FROM split)
    SELECT s.n_candidates, s.first_candidate, s.last_candidate,
           s.ordinal_checksum,
           u.union_n, u.union_first, u.union_last,
           e.uncovered, e.covered_in_space,
           r.range_n, r.range_first, r.range_last, r.range_checksum
    FROM (
      SELECT count(*) AS n_candidates,
             min(candidate) AS first_candidate,
             max(candidate) AS last_candidate,
             CAST(sum(ordinal) AS BIGINT) AS ordinal_checksum
      FROM ({keyspace_sql_duckdb(3)})
    ) s
    CROSS JOIN (
      SELECT count(*) AS union_n, min(candidate) AS union_first,
             max(candidate) AS union_last
      FROM (SELECT * FROM ({keyspace_sql_duckdb(3, 0, 8787)})
            UNION ALL SELECT * FROM ({keyspace_sql_duckdb(3, 8788, 17575)}))
    ) u
    CROSS JOIN (
      SELECT
        (SELECT count(*) FROM (SELECT ordinal FROM ({keyspace_sql_duckdb(3)})
          EXCEPT SELECT ordinal FROM covered)) AS uncovered,
        (SELECT count(DISTINCT ordinal) FROM covered
          WHERE ordinal < {codec.keyspace_size(3)}) AS covered_in_space
    ) e
    CROSS JOIN (
      SELECT count(*) AS range_n,
             min(candidate) AS range_first,
             max(candidate) AS range_last,
             CAST(sum(ordinal) AS BIGINT) AS range_checksum
      FROM ({keyspace_sql_duckdb(3)})
      WHERE candidate BETWEEN 'baa' AND 'bzz'
    ) r
    """,
    doc="Keyspace set algebra in one row (merged scan/union/except so the "
    "50-entry driver gate covers each): S1 full width-3 scan — count + "
    "bounds + ordinal checksum (request.c:40-47, worker.c:77-101); U1 — "
    "union of two contiguous slices reconstructs the full space "
    "(per-worker result union, server.c:346-348); except gap-proof of X1 — "
    "full range EXCEPT union-of-subranges is empty (split covers "
    "everything; overshoot falls outside the space); range_* — the P4 "
    "inclusive range predicate, the worker's scan bounds (worker.c:93-96; "
    "round-6 fusion of the former q_range_filter) pinned as count + "
    "bounds + ordinal checksum, which DETERMINE a contiguous selection "
    "exactly.  Every operand is a single-row aggregate, so the cross "
    "joins are broadcast no-ops.",
)
def q_keyspace_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = codec.keyspace_size(3)
    scan = keyspace(spark, 3, with_ordinal=True).agg(
        F.count("*").alias("n_candidates"),
        F.min("candidate").alias("first_candidate"),
        F.max("candidate").alias("last_candidate"),
        F.sum("ordinal").alias("ordinal_checksum"),
    )
    lo = keyspace(spark, 3, 0, 8787, with_ordinal=True)
    hi = keyspace(spark, 3, 8788, 17575, with_ordinal=True)
    union = lo.unionAll(hi).agg(
        F.count("*").alias("union_n"),
        F.min("candidate").alias("union_first"),
        F.max("candidate").alias("union_last"),
    )
    split = spark.range(WORKERS).selectExpr(*_split_exprs(3, "id"))
    covered = split.selectExpr("explode(sequence(lo, hi)) AS ordinal")
    full = keyspace(spark, 3, with_ordinal=True).select("ordinal")
    unc = full.exceptAll(covered.select("ordinal")).agg(
        F.count("*").alias("uncovered")
    )
    cov = (
        covered.filter(F.col("ordinal") < n)
        .agg(F.count_distinct("ordinal").alias("covered_in_space"))
    )
    rng = (
        keyspace(spark, 3, with_ordinal=True)
        .filter(F.col("candidate").between("baa", "bzz"))
        .agg(
            F.count("*").alias("range_n"),
            F.min("candidate").alias("range_first"),
            F.max("candidate").alias("range_last"),
            F.sum("ordinal").alias("range_checksum"),
        )
    )
    return (
        scan.crossJoin(union).crossJoin(unc).crossJoin(cov).crossJoin(rng)
    )


@register(
    "q_codec_checks",
    oracle=f"""
    SELECT r.n_total, r.n_mismatch, u.udf_rows, u.udf_mismatch
    FROM (
      SELECT count(*) AS n_total,
             CAST(sum(CASE WHEN {codec.encode_duckdb(codec.decode_duckdb('range', 4), 4)} = range
                      THEN 0 ELSE 1 END) AS BIGINT) AS n_mismatch
      FROM range(0, {codec.keyspace_size(4)})
    ) r
    CROSS JOIN (
      SELECT count(*) AS udf_rows,
             CAST(sum(CASE WHEN {codec.encode_duckdb(codec.decode_duckdb('range', 3), 3)} = range
                      THEN 0 ELSE 1 END) AS BIGINT) AS udf_mismatch
      FROM range(0, {codec.keyspace_size(3)})
    ) u
    """,
    doc="Codec integrity in one row (merged roundtrip + UDF cross-check "
    "for the 50-entry driver gate): F2/F3 encode∘decode = identity over "
    "the full width-4 space (server.c:199-224 codec pair), and §2.11 "
    "native decode ≡ pandas_udf reference implementation over width 3.  "
    "The oracle computes its udf_mismatch column as the width-3 SQL "
    "roundtrip mismatch — the same identity the Spark side's "
    "native-vs-UDF comparison enforces (an oracle cannot run the UDF, but "
    "this is a real computation of the shared invariant, not a constant).",
)
def q_codec_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.pandas_udfs import make_decode_udf

    n4 = codec.keyspace_size(4)
    roundtrip = spark.range(0, n4, 1, 8).selectExpr(
        f"{codec.encode_sql(codec.decode_sql('id', 4), 4)} AS rt", "id"
    ).agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("rt") == F.col("id"), 0).otherwise(1)).alias("n_mismatch"),
    )
    width = 3
    decode_udf = make_decode_udf(width)
    udf = spark.range(0, codec.keyspace_size(width), 1, 8).select(
        F.expr(codec.decode_sql("id", width)).alias("native"),
        decode_udf(F.col("id")).alias("via_udf"),
    ).agg(
        F.count("*").alias("udf_rows"),
        F.sum(F.when(F.col("native") == F.col("via_udf"), 0).otherwise(1))
        .cast("bigint")
        .alias("udf_mismatch"),
    )
    return roundtrip.crossJoin(udf)


@register(
    "q_crack_batch",
    oracle=f"""
    WITH requests(request_id, hash) AS (
      VALUES (CAST(1 AS BIGINT), '{HIT4}'),
             (CAST(2 AS BIGINT), '{hashlib.sha256(b"aaaa").hexdigest()}'),
             (CAST(3 AS BIGINT), '{MISS3}')
    ),
    ks AS ({keyspace_sql_duckdb(4)})
    SELECT r.request_id,
           count(k.candidate) > 0 AS found,
           min(k.candidate) AS password,
           CASE WHEN count(k.candidate) > 0 THEN 'f ' || min(k.candidate)
                ELSE 'x' END AS reply
    FROM requests r LEFT JOIN ks k ON sha256(k.candidate) = r.hash
    GROUP BY r.request_id
    """,
    doc="T1 batch kernel: N same-width crack requests answered by ONE "
    "shared keyspace scan (crack's windowed first-match over the set of "
    "the batch's digests, stopping once every digest has its min; a miss "
    "scans the whole space) — the reference scans the full space per "
    "request per worker (server.c:403-434); sharing the scan is the "
    "optimization its architecture cannot express.  The verdicts come "
    "back as a VALUES frame.  Same kernel foreachBatch runs per "
    "micro-batch in streaming/requests.py.",
)
def q_crack_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.requests import answer_request_batch

    # JVM-side literal frame (LocalTableScan), NOT createDataFrame(list):
    # a python-rows literal plans as `Scan ExistingRDD` evaluated by
    # pyspark workers across every core — measured 16.9 Python CPU-s of
    # pure fork/unpickle overhead on these 3 rows (round-10 verdict).
    reqs = spark.sql(
        f"""
        SELECT CAST(request_id AS BIGINT) AS request_id,
               hash,
               CAST(width AS INT) AS width,
               CAST(NULL AS TIMESTAMP) AS submitted_at
        FROM VALUES
          (1, '{HIT4}', 4),
          (2, '{hashlib.sha256(b"aaaa").hexdigest()}', 4),
          (3, '{MISS3}', 4) AS t(request_id, hash, width)
        """
    )
    return answer_request_batch(spark, reqs, hash_func="sha256")


@register(
    "q_crack_throughput",
    # Round 7: the probe keeps its timing role (the Spark side still
    # sha1-hashes all 11.88M candidates — n_match counts the FILTERED
    # stream, so the scan cannot be optimized away) but its outputs are
    # now closed-form: the miss verdict, the zero match count, and the
    # 26^5 space size, all statable as constants DuckDB evaluates in
    # microseconds.  So even the throughput query gets rows+schema+hash
    # checks instead of the former rows-only row.
    oracle="""
    SELECT FALSE AS found,
           CAST(NULL AS VARCHAR) AS password,
           CAST(0 AS BIGINT) AS n_match,
           CAST(26*26*26*26*26 AS BIGINT) AS n_space
    """,
    doc="Throughput probe: full width-5 space (11.88M candidates) through "
    "generate → decode → sha1 → filter → verdict in one codegen'd stage — "
    "the engine's raw crack speed, the number BASELINE.md §C compares "
    "against the reference's 11-worker OpenSSL ceiling.  The verdict, "
    "match count and space size are closed-form (miss fixture ⇒ FALSE/"
    "NULL/0; 26^5) so the probe is hash-checked since round 7; the "
    "timing semantics are unchanged — n_match is an aggregate OVER THE "
    "FILTER, so producing it requires hashing every candidate.",
)
def q_crack_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crack import candidates_matching

    # sha1 with no preimage in the space (MISS fixture): scans everything
    matches = candidates_matching(
        spark, "55d74de7f828993f5286676cbe8c4774396da193", 5
    )
    verdict = matches.agg(
        (F.count("*") > 0).alias("found"),
        F.min("candidate").alias("password"),
        F.count("*").alias("n_match"),
    )
    return verdict.withColumn("n_space", F.lit(26**5).cast("long"))


