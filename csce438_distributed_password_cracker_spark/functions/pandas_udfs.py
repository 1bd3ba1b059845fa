"""Pandas-UDF reference implementations (cross-check path, SURVEY.md §2.11).

NOTE: no ``from __future__ import annotations`` here — pandas_udf resolves
real type hints, not stringified ones.  The decode UDF exists to validate
the native decode expression (q_codec_checks); the native form is the
production path.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf

from . import codec


def make_decode_udf(width: int):
    @pandas_udf("string")
    def decode_udf(ords: pd.Series) -> pd.Series:
        return ords.map(lambda v: codec.py_decode(int(v), width))

    return decode_udf

