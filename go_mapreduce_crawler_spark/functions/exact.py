"""Deterministic-aggregate helpers.

Floating-point sums depend on summation order, which differs across
engines, partition counts, and runs — poison for (a) the DuckDB oracle's
value-hash gate and (b) reproducible results at any scale.  The fix:
route money/quantity aggregates through DECIMAL.  Decimal addition is
exact and associative, so partial+final aggregation gives bit-identical
results regardless of partitioning, and DuckDB computes the same value.
Final results are cast back to double (exact conversion, deterministic).

The oracle SQL mirrors these casts — see __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def dec(col: Column | str, typ: str = MONEY) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def money_sum(col: Column | str, typ: str = MONEY) -> Column:
    """Order-insensitive exact sum, emitted as double."""
    return F.sum(dec(col, typ)).cast("double")


def money_avg(col: Column | str, typ: str = MONEY) -> Column:
    """avg = exact-sum / count, one double division at the end."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, typ)).cast("double") / F.count(c)


def revenue() -> Column:
    """sum(l_extendedprice * (1 - l_discount)) in exact decimal.

    decimal(18,2) * decimal(18,2) -> scale-4 decimal, exact in both Spark
    and DuckDB; the sum is therefore engine- and order-independent.
    """
    return F.sum(
        dec("l_extendedprice") * (F.lit(1).cast(MONEY) - dec("l_discount"))
    ).cast("double")


# --- timezone-free calendar indexes -------------------------------------
#
# F.to_date / F.hour / F.date_trunc render an instant in the SESSION
# timezone — a query built on them silently returns different buckets on
# a non-UTC driver (verified: min epoch-day shifts 19723 -> 19722 under
# America/New_York).  These helpers derive every calendar index from
# unix_micros() integer arithmetic, which is invariant; the DuckDB
# oracles compute the same integers from epoch_us on the NTZ column.
# All assume ts >= epoch (test data is 2024+; DIV truncation
# vs floor division only diverges for negative micros).

def ts_day(col: str = "ts") -> Column:
    """Epoch day index as INT — tz-free twin of
    datediff(to_date(ts), '1970-01-01')."""
    return F.expr(f"CAST(unix_micros({col}) DIV 86400000000 AS INT)")


def ts_hour(col: str = "ts") -> Column:
    """Hour-of-day 0..23 as INT — tz-free twin of hour(ts)."""
    return F.expr(
        f"CAST((unix_micros({col}) DIV 3600000000) % 24 AS INT)")


def ts_day_str(col: str = "ts") -> Column:
    """'YYYY-MM-DD' string of the epoch day — tz-free twin of
    to_date(ts)::string (date_from_unix_date is pure arithmetic)."""
    return F.date_from_unix_date(
        F.expr(f"CAST(unix_micros({col}) DIV 86400000000 AS INT)")
    ).cast("string")

