"""Pandas-UDF reference implementations (cross-check path, SURVEY.md §2.11).

NOTE: no ``from __future__ import annotations`` here — pandas_udf resolves
real type hints, not stringified ones.  These UDFs exist to validate the
native column expressions; the native forms are the production path.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf

from . import codec


def make_decode_udf(width: int):
    @pandas_udf("string")
    def decode_udf(ords: pd.Series) -> pd.Series:
        return ords.map(lambda v: codec.py_decode(int(v), width))

    return decode_udf


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
