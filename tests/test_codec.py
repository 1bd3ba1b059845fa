"""Codec bijection + increment equivalence (SURVEY.md §5.2.1).

Oracle: the pure-Python model (py_encode/py_decode), itself validated
against the reference's algebra (pass_char2num/pass_num2char,
server.c:199-224) during the survey.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import functions as F

from csce438_distributed_password_cracker_spark.functions import codec
from csce438_distributed_password_cracker_spark.sources.keyspace import keyspace


def test_py_model_golden():
    assert codec.py_encode("aaa") == 0
    assert codec.py_encode("zzz") == 26**3 - 1
    assert codec.py_encode("abcd") == 1 * 26**2 + 2 * 26 + 3
    assert codec.py_decode(0, 4) == "aaaa"
    assert codec.py_decode(26**4 - 1, 4) == "zzzz"


def test_roundtrip_py(seed=42):
    rng = random.Random(seed)
    for width in range(1, codec.MAX_WIDTH + 1):
        n = codec.keyspace_size(width)
        for _ in range(50):
            v = rng.randrange(n)
            assert codec.py_encode(codec.py_decode(v, width)) == v


def test_spark_decode_matches_py(spark):
    width = 3
    rows = (
        keyspace(spark, width, with_ordinal=True)
        .orderBy("ordinal")
        .collect()
    )
    assert len(rows) == 26**3
    for row in rows[:100] + rows[-100:] + rows[8000:8100]:
        assert row["candidate"] == codec.py_decode(row["ordinal"], width)


def test_spark_encode_decode_bijection(spark):
    width = 4
    df = spark.range(0, 26**width, 1, 8).selectExpr(
        "id",
        f"{codec.encode_sql(codec.decode_sql('id', width), width)} AS rt",
    )
    assert df.filter(F.col("id") != F.col("rt")).count() == 0


def test_spark_encode_large_width_exact(spark):
    # int64 exactness at width 13 (the reference overflows uint32 at 7 —
    # SURVEY.md §1.2; we must not reproduce that).
    width = 13
    n = codec.keyspace_size(width)
    probes = [0, 1, n // 2, n - 2, n - 1]
    df = spark.createDataFrame([(v,) for v in probes], "ord LONG").selectExpr(
        "ord",
        f"{codec.decode_sql('ord', width)} AS s",
    ).selectExpr("ord", "s", f"{codec.encode_sql('s', width)} AS rt")
    for row in df.collect():
        assert row["rt"] == row["ord"]
        assert row["s"] == codec.py_decode(row["ord"], width)


def test_increment_matches_reference_semantics(spark):
    # pass_increment: 'z'->'a' carry, wraps at the top (worker.c:21-39).
    width = 3
    df = spark.createDataFrame(
        [("aaa",), ("aaz",), ("azz",), ("zzz",), ("abc",)], "s STRING"
    ).selectExpr("s", f"{codec.increment_sql('s', width)} AS nxt")
    got = {r["s"]: r["nxt"] for r in df.collect()}
    assert got == {"aaa": "aab", "aaz": "aba", "azz": "baa", "zzz": "aaa", "abc": "abd"}


def _edge_ordinals(width: int) -> list[int]:
    """0, 1, n-1; 26^k - 1 and 26^k for every k < width (the last ordinal
    before a digit carries, and the first after); 2^32 ± 1 when in range
    (the reference's uint32 ceiling)."""
    n = codec.keyspace_size(width)
    edges = {0, 1, n - 1}
    for k in range(1, width):
        edges |= {codec.ALPHA**k - 1, codec.ALPHA**k}
    edges |= {v for v in (2**32 - 1, 2**32 + 1) if v < n}
    return sorted(edges)


def test_spark_decode_edge_ordinals_all_widths(spark):
    """Every width 1-13 in ONE Spark job: decode_sql at the carry edges
    (where a packed byte wraps 'z' -> 'a' and the next one increments),
    across the two-word split from width 9 on, and past 2^32 — against
    py_decode, and its sha1 against hashlib (the crack filter's view)."""
    rows = [(w, v) for w in range(1, codec.MAX_WIDTH + 1) for v in _edge_ordinals(w)]
    cases = " ".join(
        f"WHEN {w} THEN {codec.decode_sql('id', w)}"
        for w in range(1, codec.MAX_WIDTH + 1)
    )
    df = spark.createDataFrame(rows, "w INT, id LONG").selectExpr(
        "w", "id", f"CASE w {cases} END AS s"
    ).selectExpr("w", "id", "s", "sha1(s) AS h")
    got = df.collect()
    assert len(got) == len(rows)
    for r in got:
        want = codec.py_decode(r["id"], r["w"])
        assert r["s"] == want, (r["w"], r["id"], r["s"], want)
        assert r["h"] == hashlib.sha1(want.encode()).hexdigest()
