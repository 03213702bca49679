"""Determinism helpers shared by queries and oracles (SURVEY.md §2.12).

Float sums across partitions are reduction-order dependent; the oracle
value-hash is exact. Strategy:

- **Sums**: round each term to a fixed-scale DECIMAL first, sum exactly,
  emit DOUBLE. Each per-row double→decimal cast is deterministic and both
  engines see bitwise-identical input doubles, so the exact decimal sums
  match regardless of partitioning — this survives any cluster size.
- **Avgs**: decimal-sum / count, then round — fully order-independent.
- **Other float outputs** (stddev, ratios): round(…, 6); the residual
  noise at these magnitudes is far below 1e-6.
- **Timestamps**: emit as formatted strings so engine/pandas tz and
  precision conventions can't skew the hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scale-6 decimal with enough integer digits for 100 TB-scale sums.
DEC = "decimal(30,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double expression → DOUBLE.

    The output double is produced as CAST(µ-unit integer total AS
    DOUBLE) / 1e6 rather than a direct decimal(30,6)→double cast: Spark
    casts decimals through BigDecimal.doubleValue (correctly rounded)
    while DuckDB computes double(unscaled)/10^scale, and once the
    unscaled total exceeds 2^53 the two can land one ulp apart (found
    by the r10 sf1 drive on sums ~2.3e11). Routing BOTH engines through
    the identical int→double→divide sequence — integer-valued decimals
    cast correctly-rounded everywhere, and /1e6 is one more correctly-
    rounded IEEE op — makes the output bit-identical at any magnitude."""
    c = F.col(col) if isinstance(col, str) else col
    micro = F.sum((c.cast(DEC) * 1000000).cast("decimal(38,0)"))
    return micro.cast("double") / F.lit(1000000.0)


def davg(col: Column | str, ndigits: int = 6) -> Column:
    """Order-independent average of a double expression → DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(dsum(c) / F.count(c), ndigits)


def r6(col: Column | str, ndigits: int = 6) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, ndigits)


def ts_str(col: Column | str) -> Column:
    """Timestamp → 'yyyy-MM-dd HH:mm:ss' string (UTC session tz pinned)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


# DuckDB-side equivalents, for building oracle SQL strings (the µ-unit
# int→double→/1e6 sequence mirrors dsum — see its docstring for why a
# direct decimal→double cast diverges between engines past 2^53).
def sql_dsum(expr: str) -> str:
    return (
        f"(CAST(SUM(CAST(CAST(({expr}) AS DECIMAL(30,6)) * 1000000"
        f" AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0)"
    )


def sql_davg(expr: str, ndigits: int = 6) -> str:
    return f"ROUND({sql_dsum(expr)} / COUNT({expr}), {ndigits})"


def h48(col: Column) -> Column:
    """48-bit integer from the md5 hex prefix — same bits both engines.
    Pass a STRING column (cast integers yourself): string rendering of
    doubles/timestamps differs between engines and would desync hashes."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def sql_h48(expr: str) -> str:
    """DuckDB mirror of h48 (same bytes, same 48-bit integer)."""
    return f"(('0x' || substr(md5({expr}), 1, 12))::BIGINT)"
