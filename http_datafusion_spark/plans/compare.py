"""Local oracle-compare harness mimicking the driver's correctness gate.

Runs a QuerySpec's Spark side and DuckDB oracle side on the same
parquet tables, sorts columns by name and rows by value, and reports
exact/approx equality. Used by tests and for pre-flight calibration —
if this passes exactly, the driver's value-hash comparison will too.

Exactness is RENDERING-aware: the gate hashes stringified values,
so a Spark Decimal('3.410') vs a DuckDB double 3.41 is numerically
equal but hash-divergent — _values_equal marks any such mixed- or
mixed-scale pair inexact (a numeric-only compare once passed
quality_model_score locally while the gate's hash compare failed it).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from decimal import Decimal

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from http_datafusion_spark.plans.registry import QuerySpec
from http_datafusion_spark.plans.tables import TABLES


@dataclass
class CompareResult:
    name: str
    rows_spark: int
    rows_oracle: int
    ok: bool
    exact: bool
    detail: str = ""

    def __bool__(self) -> bool:
        return self.ok


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _values_equal(a: object, b: object) -> tuple[bool, bool]:
    """-> (ok, exact)."""
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return (a_nan == b_nan, a_nan == b_nan)
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return (False, False)
        if fa == fb:
            # A Decimal on one side vs a float on the other is numerically
            # equal but RENDERS differently (Decimal('3.410') vs 3.41), and
            # the driver hashes rendered values — so a mixed-dtype pair is
            # never 'exact' unless the strings also agree. This is exactly
            # how quality_model_score once failed the gate's hash compare
            # while passing locally: a numeric coercion hid the
            # Decimal(18,3)-vs-double scale gap.
            # fa == fb is NOT sufficient for 'exact': the driver hashes
            # RENDERED values, and two numerically-equal values can still
            # render apart — Decimal('3.410') vs 3.41, and -0.0 vs 0.0
            # (repr(-0.0) = '-0.0'; ml_brier_decomposition hit this with
            # a float/float pair, which a mixed-dtype-only check waves
            # through). Require render equality regardless of dtype mix.
            if _render(a) != _render(b):
                return (True, False)
            return (True, True)
        close = math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
        return (close, False)
    if isinstance(a, Decimal) and isinstance(b, Decimal) and a == b and str(a) != str(b):
        # same value at different scales ('3.410' vs '3.41') — hash-divergent
        return (True, False)
    if str(a) == str(b):
        return (True, True)
    return (False, False)


def _render(v: object) -> str:
    """How a numeric value stringifies for hashing purposes: Decimals keep
    their scale verbatim, INTEGERS stay integers ('3', never '3.0' —
    a bigint-vs-double pair is numerically equal but renders apart, the
    same class as the Decimal-scale and -0.0 incidents), floats via
    repr (trailing zeros dropped)."""
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return str(int(v))
    return repr(float(v))


def compare_query(
    spark: SparkSession,
    spec: QuerySpec,
    sf_dir: str,
    con: duckdb.DuckDBPyConnection | None = None,
) -> CompareResult:
    sdf = spec.spark(spark, sf_dir).toPandas()
    if spec.oracle is None:
        return CompareResult(spec.name, len(sdf), -1, ok=True, exact=True, detail="rows-only (no oracle)")
    own_con = con is None
    con = con or duckdb_connection(sf_dir)
    try:
        odf = con.sql(spec.oracle).df()
    finally:
        if own_con:
            con.close()

    if sorted(sdf.columns) != sorted(odf.columns):
        return CompareResult(
            spec.name, len(sdf), len(odf), ok=False, exact=False,
            detail=f"schema mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}",
        )
    if len(sdf) != len(odf):
        return CompareResult(
            spec.name, len(sdf), len(odf), ok=False, exact=False,
            detail=f"row count mismatch: spark={len(sdf)} oracle={len(odf)}",
        )
    s, o = _canon(sdf), _canon(odf)
    exact = True
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (x, y) in enumerate(zip(sv, ov)):
            ok, ex = _values_equal(x, y)
            if not ok:
                return CompareResult(
                    spec.name, len(sdf), len(odf), ok=False, exact=False,
                    detail=f"value mismatch col={col!r} row={i}: spark={x!r} oracle={y!r}",
                )
            exact = exact and ex
    detail = "" if exact else "approx-only match (float drift — driver hash may fail)"
    return CompareResult(spec.name, len(sdf), len(odf), ok=True, exact=exact, detail=detail)
