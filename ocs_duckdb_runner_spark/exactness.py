"""Cross-engine float determinism helpers.

Spark's partial/final aggregation sums doubles in a different order than the
DuckDB oracle, so raw ``sum``/``avg`` over non-integral doubles drift in the
last ulps and fail the driver's value-hash. The fixture money/rate columns
carry fixed decimal precision (2 digits), so the drift is eliminated by
aggregating in fixed-point integers: per-row ``round(x * 10^d)`` is the SAME
double in both engines (IEEE-754 per-row arithmetic is deterministic; only
aggregation ORDER varies), and integer sums are order-independent.

``fx_sum``/``fx_avg`` (Spark) pair with ``sql_fx_sum``/``sql_fx_avg``
(oracle SQL) — both produce bit-identical results regardless of plan shape,
partition count, or cluster size, which is exactly the property you want
when the same query must validate at sf0.01 and run at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def fx_sum(c: Column | str, digits: int = 2) -> Column:
    """Order-independent sum of a fixed-decimal double, as integer units
    of 10^-digits (e.g. cents)."""
    return F.sum(F.round(_col(c) * (10**digits)).cast("long"))


def sql_fx_sum(expr: str, digits: int = 2) -> str:
    # outer CAST: DuckDB widens sum(BIGINT) to HUGEINT; Spark keeps LongType
    return f"CAST(sum(CAST(round(({expr}) * {10 ** digits}) AS BIGINT)) AS BIGINT)"


def fx_avg(c: Column | str, digits: int = 2) -> Column:
    """Order-independent mean of a fixed-decimal double (back in original
    units): exact integer sum, then one double division — the division
    operands are identical in both engines, so the quotient is too."""
    col = _col(c)
    return fx_sum(col, digits).cast("double") / F.count(col) / F.lit(float(10**digits))


def sql_fx_avg(expr: str, digits: int = 2) -> str:
    return (
        f"CAST({sql_fx_sum(expr, digits)} AS DOUBLE)"
        f" / count({expr}) / CAST({10 ** digits} AS DOUBLE)"
    )

