"""Signed-zero regression gate (r12 driver finding).

The driver's order-insensitive value hash DISTINGUISHES -0.0 from
+0.0, while Python equality does not (`-0.0 == 0.0` is True) — so for
12 rounds the local gate could not see the class of failure that hit
`q_window_rolling_corr` in CORRECTNESS_r12.json: both engines produced
numerically identical outputs, but 3 rows rounded to -0.0 in DuckDB
and +0.0 in Spark.

Contract pinned here:
1. `tools/verify_oracle._norm_value` maps -0.0 to a distinct token, so
   the local gate is at least as strict as the driver's hash.
2. The `round(x, n) + 0.0` normalization (applied across the r13
   signed-double sweep: correlations, z-scores, pct_change, PMI,
   cosine, Welch t, skew/kurt, regression slopes, embedding
   components) produces +0.0 in BOTH engines for a tiny-negative
   input.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import verify_oracle  # noqa: E402


def test_norm_value_distinguishes_signed_zero():
    assert verify_oracle._norm_value(-0.0) == "-0.0"
    assert verify_oracle._norm_value(0.0) == 0.0
    # a tiny negative that ROUNDS to zero must normalize to the token
    assert verify_oracle._norm_value(-1e-9) == "-0.0"
    assert verify_oracle._norm_value(1e-9) == 0.0
    # nested containers too
    assert verify_oracle._norm_value([-0.0, 1.5]) == ("-0.0", 1.5)
    # and the detector used for the WARN path
    assert verify_oracle._contains_negzero(("-0.0",))
    assert not verify_oracle._contains_negzero((0.0, 1.0))


def test_norm_value_unchanged_for_ordinary_floats():
    assert verify_oracle._norm_value(1.23456789) == 1.234568
    assert verify_oracle._norm_value(-1.23456789) == -1.234568
    assert verify_oracle._norm_value(float("nan")) == "NaN"


def _is_pos_zero(x: float) -> bool:
    return x == 0.0 and math.copysign(1.0, x) > 0


def test_plus_zero_normalization_duckdb():
    con = duckdb.connect()
    raw = con.execute("SELECT round(-1e-9, 4)").fetchone()[0]
    fixed = con.execute("SELECT round(-1e-9, 4) + 0.0").fetchone()[0]
    # DuckDB's round keeps the sign (the r12 failure mode) …
    assert raw == 0.0
    # … and `+ 0.0` folds it to +0.0 (IEEE: -0.0 + 0.0 = +0.0)
    assert _is_pos_zero(fixed)


def test_plus_zero_normalization_spark(spark):
    row = (
        spark.range(1)
        .select(
            F.round(F.lit(-1e-9), 4).alias("raw"),
            (F.round(F.lit(-1e-9), 4) + F.lit(0.0)).alias("fixed"),
        )
        .collect()[0]
    )
    assert row["raw"] == 0.0
    assert _is_pos_zero(row["fixed"])


def test_gate_catches_signed_zero_frame(spark):
    """End-to-end: a frame that differs ONLY in zero sign must no
    longer normalize equal — the exact blind spot of the r06–r12 gate."""
    srows = [(1, 0.0)]
    orows = [(1, -0.0)]
    sn = verify_oracle._normalize(srows, ["id", "v"])
    on = verify_oracle._normalize(orows, ["id", "v"])
    assert sn != on


@pytest.mark.parametrize("expr", ["corr(x, y)", "covar_samp(x, y)"])
def test_rolling_corr_class_duckdb_vs_spark(spark, expr):
    """A 2-point frame engineered so the correlation is a tiny negative
    that rounds to zero: with the `+ 0.0` normalization both engines
    must return +0.0 (bit-identical hashes)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "(1.0, 2.0), (2.0, 2.0 - 1e-12), (3.0, 2.0)) AS v(x, y)"
    )
    duck = con.execute(f"SELECT round({expr}, 4) + 0.0 FROM t").fetchone()[0]
    sdf = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 2.0 - 1e-12), (3.0, 2.0)], ["x", "y"]
    )
    fn = F.corr if "corr(" in expr else F.covar_samp
    srow = sdf.agg((F.round(fn("x", "y"), 4) + F.lit(0.0)).alias("r")).collect()[0]
    if duck is not None and srow["r"] is not None:
        assert verify_oracle._norm_value(duck) == verify_oracle._norm_value(
            srow["r"]
        )
        assert not verify_oracle._contains_negzero(
            (verify_oracle._norm_value(duck),)
        )
