"""Typed value parsing/formatting for the anonymization operators.

Sortable numeric domain per reference datatype:
  integer/double → double (GeneralizationNumeric.java:25-34)
  date           → epoch days (GeneralizationDate.java:40-48, RandomizationDate.java:33-37)
  dateTime       → epoch seconds/millis (GeneralizationDateTime.java:33-46,
                   RandomizationDateTime.java:31-33)
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F

from kgforge.javarandom import java_double_str, jdiv

EPOCH = _dt.date(1970, 1, 1)

NUMERIC_DATATYPES = ("integer", "double")


def parse_col(datatype: str, c: Column) -> Column:
    """Lexical obj_value → sortable double column.

    ANSI-safe: the ``try_`` parsers turn a malformed value into NULL, as the
    plain parsers do with ANSI mode off, instead of failing the query."""
    if datatype in NUMERIC_DATATYPES:
        return c.try_cast("double")
    if datatype == "date":
        return F.datediff(F.try_to_date(c), F.lit("1970-01-01")).cast("double")
    if datatype == "dateTime":
        # xsd:date-or-dateTime fallback parse (RandomizationDateTime.java:58-70)
        ts = F.coalesce(F.try_to_timestamp(c), F.try_to_timestamp(F.try_to_date(c)))
        return F.unix_timestamp(ts).cast("double")
    raise ValueError(f"unsupported datatype for value parsing: {datatype}")


def epoch_day_to_iso(day: int) -> str:
    return (EPOCH + _dt.timedelta(days=int(day))).isoformat()


def epoch_sec_to_lexical(sec: int) -> str:
    return _dt.datetime.fromtimestamp(int(sec), tz=_dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def median_value(datatype: str, v1: float | None, v2: float | None) -> float:
    """Reference getMedianValue: null-tolerant mean; integer domains use Java
    long division (truncates toward zero)."""
    if v1 is None:
        return v2
    if v2 is None:
        return v1
    if datatype in NUMERIC_DATATYPES:
        return (v1 + v2) / 2.0
    # date: epoch-day mean with Java long division (GeneralizationDate.java:47)
    # dateTime: epoch-millis mean — seconds here, same truncation semantics
    return float(jdiv(int(v1) + int(v2), 2))


def format_bound(datatype: str, v: float) -> tuple[str, str]:
    """(lexical, dtype) for a bucket min/max literal."""
    if datatype in NUMERIC_DATATYPES:
        return java_double_str(float(v)), "xsd:double"
    if datatype == "date":
        return epoch_day_to_iso(int(v)), "xsd:date"
    return epoch_sec_to_lexical(int(v)), "xsd:dateTime"


def median_col(datatype: str, v1: Column, v2: Column) -> Column:
    """Column twin of :func:`median_value` (same null-tolerance and Java
    long-division truncation) so bucket bounds can be built as a DataFrame
    transform instead of a driver loop."""
    if datatype in NUMERIC_DATATYPES:
        mean = (v1 + v2) / F.lit(2.0)
    else:
        s = v1.cast("long") + v2.cast("long")
        # Java long division truncates toward zero; Spark's % keeps the
        # dividend's sign (like Java), so (s - s % 2) / 2 is exact
        mean = ((s - (s % F.lit(2))) / F.lit(2)).cast("double")
    return F.when(v1.isNull(), v2).when(v2.isNull(), v1).otherwise(mean)


def format_bound_col(datatype: str, v: Column) -> tuple[Column, str]:
    """Column twin of :func:`format_bound`.  Spark's double→string cast calls
    JVM Double.toString, byte-identical to :func:`java_double_str` (verified
    over the fixture value domain); date/dateTime render in the session
    timezone, which the engine pins to UTC."""
    if datatype in NUMERIC_DATATYPES:
        return v.cast("string"), "xsd:double"
    if datatype == "date":
        return (
            F.date_add(F.to_date(F.lit("1970-01-01")), v.cast("int")).cast("string"),
            "xsd:date",
        )
    return (
        F.date_format(F.timestamp_seconds(v.cast("long")), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        "xsd:dateTime",
    )


def format_randomized(datatype: str, v: float) -> tuple[str, str]:
    if datatype in NUMERIC_DATATYPES:
        return java_double_str(float(v)), "xsd:double"
    if datatype == "date":
        return epoch_day_to_iso(int(v)), "xsd:date"
    return epoch_sec_to_lexical(int(v)), "xsd:dateTime"
