"""Helpers shared by the query modules: cross-engine numeric
determinism, and the per-SF side-table directory.

The driver hash-compares Spark results against DuckDB EXACTLY, which
makes two float pitfalls fatal:

1. `round()` semantics differ: Spark rounds the shortest decimal repr
   (`Double.toString` → BigDecimal HALF_UP, so 62.1/60 = 1.0349999…
   renders "1.035" and rounds to 1.04) while DuckDB rounds the binary
   value (→ 1.03). Fix: both sides use the identical IEEE expression
   `floor(x * 10^n + 0.5) / 10^n` — same ops, same bits.

2. Float addition is not associative: Spark's partial-aggregate sum
   order differs from DuckDB's sequential sum, so unquantized SUMs of
   doubles differ in the last ulps, and any post-hoc rounding still has
   an epsilon-at-the-boundary risk. Fix: sum in DECIMAL. The driver
   tables' money columns are exact 2-decimal values (and derived terms
   like price*(1-disc)*(1+tax) are exact 6-decimal values), so casting
   each term to DECIMAL(25,6) lands on the grid identically in both
   engines, decimal addition is exact and associative, and the final
   cast back to double is deterministic.

Use `dsum`/`davg` for any sum/avg of doubles, `rnd` for any per-row
rounding — with the matching `*_sql` fragment in the oracle.

Queries that build side state on disk (lakehouse tables, Avro
round-trips, index builds, stream sinks) keep it under
`side_dir(prefix, sf_dir)`: one directory per prefix and scale
factor, so a rerun at the same SF finds its own state and two SFs
never share one.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEC = "decimal(25,6)"
_DEC_SQL = "DECIMAL(25,6)"


def dsum(col: Column) -> Column:
    """Order-insensitive exact sum of a (≤6-decimal) double column."""
    return F.sum(col.cast(_DEC)).cast("double")


def dsum_sql(expr: str) -> str:
    return f"CAST(sum(CAST(({expr}) AS {_DEC_SQL})) AS DOUBLE)"


def davg(col: Column) -> Column:
    """Deterministic average: exact decimal sum, then double division."""
    return F.sum(col.cast(_DEC)).cast("double") / F.count(F.lit(1))


def davg_sql(expr: str) -> str:
    return f"CAST(sum(CAST(({expr}) AS {_DEC_SQL})) AS DOUBLE) / count(*)"


def epoch_us(col: Column) -> Column:
    """Microseconds since epoch, matching DuckDB `epoch_us(ts)`.

    `timestamp_diff` accepts both TIMESTAMP and TIMESTAMP_NTZ (the
    driver's events.parquet stores un-zoned micros, which Spark 4 reads
    as NTZ), unlike `unix_micros`, which rejects NTZ outright. For NTZ
    the naive wall clock is treated as UTC — exactly DuckDB's epoch_us
    on a naive timestamp.
    """
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        col.cast("timestamp_ntz"),
    )


def rnd(col: Column, n: int = 2) -> Column:
    """Half-up rounding as a pure IEEE expression (same bits as rnd_sql).

    DOMAIN CONSTRAINT (found by stats_anova_oneway, r9): Spark's
    floor(double) returns LONG, so |x|·10^n must stay below 2^63 —
    beyond it Spark overflows (wraps non-ANSI, throws ANSI) while
    DuckDB's double-returning floor sails on, a silent cross-engine
    divergence. For large-magnitude intermediates round at FEWER
    decimals (the statistic loses nothing: 2dp on a 1e13-scale term
    is 1e-15 relative error) — see stats_anova_oneway's terms."""
    p = float(10**n)
    return F.floor(col * p + F.lit(0.5)) / p


def rnd_sql(expr: str, n: int = 2) -> str:
    p = float(10**n)
    return f"floor(({expr}) * {p} + 0.5) / {p}"


def side_dir(prefix: str, sf_dir: str) -> str:
    """`<tmp>/<prefix>_<sf tag>`: the side-state directory of one
    query family at one scale factor (the tag is `sf_dir`'s last path
    component, e.g. `sf0.01`)."""
    return os.path.join(tempfile.gettempdir(),
                        f"{prefix}_{os.path.basename(sf_dir.rstrip('/'))}")
