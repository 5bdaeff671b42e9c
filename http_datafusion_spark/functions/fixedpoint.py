"""Exact fixed-point aggregation: the one place that says how a sum is
made engine-independent.

Two rules live here:

- :func:`quantize` is the per-row rule behind every statistics sum:
  round to ``d`` places as a ``decimal(p, d)``, then sum. Decimal
  addition is associative, so the total does not depend on row order.
- Money sums over 2-decimal base columns (``l_quantity``,
  ``l_extendedprice``, ``o_totalprice``) sum int64 cents instead:
  ``unscale(F.sum(i100(col)), 2)``, cast to the site's output type.

Why cents: Spark's sum over DECIMAL leaves the long-backed fast path
once the result precision passes 18 digits (a sum of decimal(18,2) is
decimal(28,2)), so every row pays a BigDecimal add. On 4 cores at
sf0.1, grouping lineitem's 600 000 rows by (l_partkey, ship month) to
a noop sink took, median of 3 warm runs: 1.83 s summing
``decimal(18,2)``, 1.12 s summing ``i100`` cents, 0.91 s summing
doubles and 0.79 s counting alone. A ``decimal(18,6)`` sum costs the
same as ``decimal(18,2)`` (1.84 s). DuckDB's decimal sum, which the
oracles use, accumulates in int128.

Overflow: an int64 holds 9.2e16 currency units in cents, more than
400x TPC-H's total revenue at sf1000, and Spark's default ANSI mode
raises on overflow instead of wrapping. So a cents sum needs no
two-level split. Sums at scale 1e6 (``int_fixed``, ``money_x_rate6``)
hold 10 000x less; those use :func:`two_level_agg`:

1. Per row, scale the money value to an int64 by multiplying the SAME
   ``cast("decimal(18,d)")`` expression the oracle applies
   (:func:`int_fixed`) — per-row values stay bit-identical to the
   decimal plan, including the cast's HALF_UP rounding of doubles.
2. Sum the int64s grouped by (keys..., spark_partition_id()) — the
   partial aggregate runs in whole-stage codegen over primitive longs.
3. Merge the per-partition partials grouped by keys alone, summing as
   decimal(38,0) (:func:`dsum`) — exact at any cluster size, over a
   relation whose cardinality is #groups x #partitions, not #rows.
4. Recover the value with an exact decimal division
   (:func:`unscale`) — never a double divide, whose 0.5-ulp quotient
   error could flip a round-half boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize(c: Column | str, digits: int, precision: int = 18) -> Column:
    """Round to ``digits`` places as a ``decimal(precision, digits)``.

    A sum over these values is exact, so it does not depend on the
    engine's row order; the oracles quantize with the same
    ``CAST(round(x, d) AS DECIMAL(p, d))``."""
    return F.round(c, digits).cast(f"decimal({precision},{digits})")


def i100(col: Column | str) -> Column:
    """Exact int64 of a <=2-decimal base column (money, rate, quantity).

    The column's true value is a 2-decimal rational v = k/100; the
    stored double is within ~1e-12 relative of it, so x*100 lands
    within ~1e-7 of the integer k — round() recovers k exactly (the
    nearest competing integer is 0.5 away). One double round per base
    column, no BigDecimal per row.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("bigint")


def int6(col: Column | str) -> Column:
    """A 2-decimal base column at scale 1e6 — pure int64."""
    return i100(col) * F.lit(10_000).cast("bigint")


def mul_fixed6(a: Column | str, b: Column | str) -> Column:
    """a*b at scale 1e6 for two 2-decimal columns — pure int64.

    PROVABLY equals ``int_fixed(a * b)`` (the oracle's
    ``CAST(a*b AS DECIMAL(18,6))`` path): the true product is an exact
    4-decimal rational, the double product is within ~1e-9 of it, and
    HALF_UP at scale 6 of a value that close to a 4-decimal rational
    returns that rational — which is exactly i100(a)*i100(b)/1e4.
    """
    return i100(a) * i100(b) * F.lit(100).cast("bigint")


def money_x_rate6(money: Column | str, rate: Column | str) -> Column:
    """money*(1-rate) at scale 1e6 (the TPC-H revenue shape) — pure
    int64, bit-equal to ``int_fixed(money * (1 - rate))`` by the same
    4-decimal-rational argument as :func:`mul_fixed6`."""
    return i100(money) * (F.lit(100).cast("bigint") - i100(rate)) * F.lit(100).cast("bigint")


def charge6(money: Column | str, disc: Column | str, tax: Column | str) -> Column:
    """money*(1-disc)*(1+tax) at scale 1e6 — pure int64; the true
    value is an exact 6-decimal rational, double error ~1e-9, so the
    oracle's decimal(18,6) cast returns the same rational."""
    h = F.lit(100).cast("bigint")
    return i100(money) * (h - i100(disc)) * (h + i100(tax))


def int_fixed(col: Column, digits: int = 6) -> Column:
    """Exact scaled-int64 of a money expression.

    Routes through the identical ``decimal(18,digits)`` cast the
    decimal plan (and the DuckDB oracle) uses, so the per-row quantized
    value — including HALF_UP rounding of a double input — is
    bit-identical; the decimal multiply and bigint cast are then exact.
    """
    return (col.cast(f"decimal(18,{digits})") * F.lit(10**digits)).cast("bigint")


def dsum(name: str) -> Column:
    """Exact decimal merge of int64 partial sums (step 3)."""
    return F.sum(F.col(name).cast("decimal(38,0)"))


def unscale(col: Column, digits: int = 6, round_to: int | None = None) -> Column:
    """Exact value = col / 10**digits via DECIMAL division (never a
    double divide), optionally rounded (decimal HALF_UP — matches
    DuckDB's round-half-away on decimals). Cast the result yourself
    (`.cast("double")`) to match the oracle's output type."""
    v = col / F.lit(10**digits).cast("decimal(8,0)")
    return F.round(v, round_to) if round_to is not None else v


def two_level_agg(
    df: DataFrame,
    keys: list,
    partial: dict[str, Column],
    final: dict[str, Column],
) -> DataFrame:
    """groupBy(keys + partition id) -> ``partial`` aggregates, then
    groupBy(keys) -> ``final`` aggregates over the partial columns
    (referenced by name). ``keys`` may be empty (scalar aggregate) and
    may contain Column expressions. Both aggregations partial-combine
    map-side; the second one runs over #groups x #partitions rows."""
    pid = F.spark_partition_id().alias("__pid")
    p = df.groupBy(*keys, pid).agg(*[c.alias(n) for n, c in partial.items()])
    group_names = [c if isinstance(c, str) else p.columns[i] for i, c in enumerate(keys)]
    return p.groupBy(*group_names).agg(*[c.alias(n) for n, c in final.items()])
