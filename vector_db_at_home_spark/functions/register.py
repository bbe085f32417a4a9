"""SQL function registration — the engine's UDF surface.

The reference has no user extension points (SURVEY.md §2.5 "UDF surface:
none"); Spark-side every engine kernel is also exposed to SQL users:

- ``register_sql_functions(spark)`` registers the Python-backed UDFs
  (``indel_ratio``, ``indel_distance`` — the fuzzy scorer is the one kernel
  that genuinely needs Python) and the UDAF example (``geomean`` — an
  Arrow grouped-agg pandas UDF, the user-defined-aggregate third of the
  UDF/UDAF/UDTF surface; UDTFs live in ``functions/udtf.py``).
- ``sql_macro(name, ...)`` expands the expression-level kernels
  (``l2_distance``, ``dot_product``, ``rolling_fingerprint``) into SQL text
  built purely from built-ins — codegen'd JVM-side, no UDF overhead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def register_sql_functions(spark: SparkSession) -> None:
    from .fuzzy import indel_ratio

    def ratios(a: pd.Series, b: pd.Series) -> list[float]:
        return [indel_ratio(q or "", d) for q, d in zip(a, b)]

    @pandas_udf(DoubleType())
    def _indel_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(ratios(a, b), dtype=float)

    @pandas_udf(DoubleType())
    def _indel_distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([100.0 - r for r in ratios(a, b)], dtype=float)

    @pandas_udf(DoubleType())
    def _geomean_udf(v: pd.Series) -> float:
        # grouped-agg pandas UDF (scalar return = GROUPED_AGG): geometric
        # mean of the group's positive values — partial aggregation happens
        # Arrow-batched per group; NaN for all-nonpositive groups
        import numpy as np

        x = v.to_numpy(dtype=float)
        x = x[x > 0]
        if x.size == 0:
            return float("nan")
        return float(np.exp(np.log(x).mean()))

    spark.udf.register("indel_ratio", _indel_ratio_udf)
    spark.udf.register("indel_distance", _indel_distance_udf)
    spark.udf.register("geomean", _geomean_udf)


SQL_MACROS = {
    "l2_distance": (
        "sqrt(aggregate(zip_with({a}, {b}, (x, y) -> CAST((x - y) * (x - y) "
        "AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    ),
    "dot_product": (
        "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x * y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    ),
    "rolling_fingerprint": (
        "aggregate(split({s}, ''), CAST(0 AS BIGINT), "
        "(acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"
    ),
}


def sql_macro(name: str, **cols: str) -> str:
    """Expand an engine SQL macro, e.g.
    ``sql_macro('l2_distance', a='embedding', b='qvec')``."""
    return SQL_MACROS[name].format(**cols)
