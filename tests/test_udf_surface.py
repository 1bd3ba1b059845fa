"""The §2.11 UDAF/UDTF surface: the grouped-agg pandas weighted median
vs a closed-form SQL twin, and the segment-splitter UDTF vs the native
split+posexplode plan (native is production; these fixtures validate the
custom-extension path, and no engine code uses them)."""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

# no ``from __future__ import annotations`` in this file: pandas_udf and
# udtf resolve real type hints, not stringified ones


def make_weighted_median_udaf():
    """Grouped-aggregate pandas UDAF (§2.11 UDAF surface): the exact
    LOWER weighted median — smallest value whose cumulative weight
    reaches half the total.  Spark has no native weighted percentile;
    this is the Arrow-batched aggregation path for genuinely custom
    aggregates (one pandas call per group, vectorized inside).  NULL
    values/weights are ignored; an all-NULL group yields NULL."""

    @pandas_udf("double")
    def weighted_median(v: pd.Series, w: pd.Series) -> float:
        keep = v.notna() & w.notna() & (w > 0)
        v, w = v[keep], w[keep]
        if v.empty:
            return None
        order = v.sort_values().index
        v, w = v.loc[order], w.loc[order]
        cum = w.cumsum()
        half = float(w.sum()) / 2.0
        return float(v[cum >= half].iloc[0])

    return weighted_median


@udtf(returnType="idx: int, segment: string, n_chars: int")
class SegmentSplitter:
    """Python UDTF (§2.11 UDTF surface): split a text into non-empty
    segments on a literal separator, one output row per segment with its
    ordinal and length — the sentence-splitting shape as a table
    function, checked against the native split + posexplode plan."""

    def eval(self, text: str, sep: str):
        if text is None:
            return
        idx = 0
        for seg in text.split(sep):
            if seg:
                yield idx, seg, len(seg)
                idx += 1


def test_weighted_median_udaf_closed_form(spark):
    wm = make_weighted_median_udaf()
    df = spark.createDataFrame(
        [
            ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 10.0),
            ("b", 5.0, 1.0), ("b", 7.0, 1.0),
            ("c", None, 1.0), ("c", 9.0, None),
        ],
        "g string, v double, w double",
    )
    got = {
        r["g"]: r["m"]
        for r in df.groupBy("g").agg(wm("v", "w").alias("m")).collect()
    }
    assert got["a"] == 3.0   # weight mass sits on 3.0
    assert got["b"] == 5.0   # lower median at the half-point
    assert got["c"] is None  # nothing valid in the group


def test_weighted_median_udaf_vs_sql_twin(spark, sf_oracle):
    """Against lineitem: quantity weighted by extendedprice, the UDAF
    must equal the SQL cumulative-weight closed form per returnflag."""
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    wm = make_weighted_median_udaf()
    got = {
        r["l_returnflag"]: r["m"]
        for r in li.groupBy("l_returnflag")
        .agg(wm("l_quantity", "l_extendedprice").alias("m"))
        .collect()
    }
    li.createOrReplaceTempView("li_wm")
    want = {
        r["l_returnflag"]: r["m"]
        for r in spark.sql(
            """
            SELECT l_returnflag, min(v) AS m FROM (
              SELECT l_returnflag, v, cumw, half FROM (
                SELECT l_returnflag, l_quantity AS v,
                       sum(l_extendedprice) OVER (
                         PARTITION BY l_returnflag ORDER BY l_quantity
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cumw,
                       sum(l_extendedprice) OVER (
                         PARTITION BY l_returnflag) / 2 AS half
                FROM li_wm
              ) WHERE cumw >= half
            ) GROUP BY l_returnflag
            """
        ).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_segment_splitter_udtf_matches_native(spark):
    spark.udtf.register("segment_splitter", SegmentSplitter)
    df = spark.createDataFrame(
        [(1, "one. two. three"), (2, ""), (3, None), (4, "solo")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("segs_in")
    got = spark.sql(
        """
        SELECT doc_id, s.idx, s.segment, s.n_chars
        FROM segs_in, LATERAL segment_splitter(text, '. ') s
        """
    ).collect()
    native = (
        df.select(
            "doc_id",
            F.posexplode(
                F.filter(
                    F.split(F.coalesce("text", F.lit("")), "\\. "),
                    lambda x: x != "",
                )
            ).alias("idx", "segment"),
        )
        .withColumn("n_chars", F.length("segment"))
        .collect()
    )
    key = lambda r: (r["doc_id"], r["idx"])
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, native), key=lambda t: (t[0], t[1])
    )
    # NULL text emits nothing from the UDTF and nothing natively
    assert all(r["doc_id"] != 3 for r in got)
