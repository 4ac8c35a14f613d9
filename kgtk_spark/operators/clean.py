"""`kgtk validate` / `kgtk clean-data` — per-cell validation with reject channel.

Reference: kgtk/cli/validate.py, kgtk/cli/clean_data.py; engine =
kgtk/io/kgtkreader.py:946-958 (invalid-value handling) + KgtkValue.validate
per cell. Validation actions (kgtk/utils/validationaction.py) map to a
filter + side-channel reject DataFrame.

Spark: one boolean pandas-UDF conjunction over the value columns —
a single pass, no shuffle; reject rows are the complement filter.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgtk_spark.values import is_valid_udf


def _valid_predicate(df: DataFrame, columns: list[str] | None):
    cols = columns or df.columns
    tests = [is_valid_udf(F.coalesce(F.col(c), F.lit(""))) for c in cols]
    return reduce(lambda a, b: a & b, tests)


def kgtk_clean(
    df: DataFrame, columns: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Copy clean rows through; route invalid rows to the reject channel."""
    pred = _valid_predicate(df, columns)
    return df.filter(pred), df.filter(~pred)
