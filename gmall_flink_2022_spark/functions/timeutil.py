"""Scalar time/function surface (SURVEY §2.7 F1-F10).

Reference: utils/DateTimeUtil.java:12-20 (string<->millis, hardcoded +8 —
here the zone is the session timezone config), plus the Flink SQL computed
columns in dws/ProvinceStatsSqlApp.java:29-44 and
dws/KeywordStatsApp.java:25.
All pure built-in `F.*` expressions — JVM-side, codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

FMT = "yyyy-MM-dd HH:mm:ss"


def to_ts(col: Column | str) -> Column:
    """F1: TO_TIMESTAMP('yyyy-MM-dd HH:mm:ss')."""
    return F.to_timestamp(F.col(col) if isinstance(col, str) else col, FMT)


def date_str(col: Column | str) -> Column:
    """F3: DATE_FORMAT(ts, 'yyyy-MM-dd HH:mm:ss')."""
    return F.date_format(F.col(col) if isinstance(col, str) else col, FMT)


def hour_of(col: Column | str) -> Column:
    """P9: hour component (implements the reference's *intended* semantics;
    dwm/OrderWideApp.java:45 derives it from the date part — a bug)."""
    return F.hour(F.col(col) if isinstance(col, str) else col)


def yyyymmdd_int(col: Column | str) -> Column:
    """F10: ClickHouse toYYYYMMDD equivalent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyyMMdd").cast("int")


def age_years(birthday: Column | str, as_of: Column | None = None) -> Column:
    """F8: age from birthday (dwm/OrderWideApp.java:109-114). Deterministic
    variant: pass a fixed ``as_of`` for tests instead of current_date()."""
    b = F.col(birthday) if isinstance(birthday, str) else birthday
    ref = as_of if as_of is not None else F.current_date()
    return F.floor(F.datediff(ref, F.to_date(b)) / F.lit(365.25)).cast("int")


def camel(name: str) -> str:
    """F9: snake_case -> camelCase column rename (utils/JdbcUtil.java:29-32);
    apply with df.toDF(*[camel(c) for c in df.columns])."""
    head, *rest = name.split("_")
    return head + "".join(p.title() for p in rest)
