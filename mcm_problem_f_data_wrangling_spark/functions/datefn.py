"""Date/calendar helpers (SURVEY.md §2.7 F2-F6, §2.5 W13).

The reference synthesizes month-grain dates from (year, period) string
columns (``bls_ces/load_CES_pandas.py:149-154``,
``bls_ces/prep_CES_pandas.py:52-54``) and normalizes series to
month-start/month-end with pandas ``Period('M')`` (``EDA.ipynb cells
23, 25, 27``).  Spark has no PeriodType (SURVEY.md §1.2): month grain
is modeled as DateType truncated with ``trunc``/``last_day``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def synthesize_date(year: Column | str, period: Column | str) -> Column:
    """F2-F5: date from CES (year, 'Mxx' period) string pair.

    String-faithful variant: strip the leading 'M'
    (``str.replace("M","")``, ``load_CES_pandas.py:149``), zero-pad
    (F3), concat (F4), ``to_date`` with coerce-to-NULL (F5).  Non-month
    garbage (e.g. 'M13' if unfiltered) still parses; callers apply the
    P5 monthly filter first, same as the reference.
    """
    month = F.regexp_replace(_c(period), "M", "")
    return F.to_date(
        F.concat_ws("-", _c(year), F.lpad(month, 2, "0"), F.lit("01")),
        "yyyy-MM-dd",
    )


def month_end(col: Column | str) -> Column:
    """F6: ``to_period('M').to_timestamp(how='M')`` ≡ last_day."""
    return F.last_day(_c(col))
