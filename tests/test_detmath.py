"""functions/detmath.py: the bit-deterministic ln/exp surrogates.

Three properties matter:
  1. accuracy — the surrogate approximates the true function well enough
     that callers can label the column "ln"/"exp" honestly;
  2. cross-engine bit-equality — Spark and DuckDB produce the SAME double
     for the same input (the whole reason the module exists);
  3. the SQL text mirrors the Column expression op-for-op (checked via 2).
"""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from bbc_news_data_pipeline_spark.functions.detmath import (
    det_exp_small_sql,
    det_ln,
    det_ln_sql,
)

# Spans the domain callers use: count ratios from ~1e-10 to ~1e10, plus
# awkward points (exact 1.0, near-1, subnormal-ish small, perfect powers).
LN_INPUTS = [
    1e-10, 3.7e-8, 1e-6, 0.001, 0.1, 0.5, 0.9999999, 1.0, 1.0000001,
    1.5, 2.0, math.e, 10.0, 1024.0, 99991.0, 1e6, 3.1e8, 1e10,
]
EXP_INPUTS = [
    -1.0, -0.9999, -0.5, -0.1, -1e-6, 0.0, 1e-6, 0.123456, 0.5, 0.9999, 1.0,
]


def test_det_ln_accuracy():
    for x in LN_INPUTS:
        import numpy as np

        s = np.float64(x)
        for _ in range(20):
            s = np.sqrt(s)
        t = s - np.float64(1.0)
        got = float((t - t * t / 2 + t * t * t / 3) * np.float64(2.0**20))
        assert got == pytest.approx(math.log(x), abs=5e-9, rel=5e-9), x


def test_det_exp_small_accuracy():
    from bbc_news_data_pipeline_spark.functions.detmath import _EXP_COEFFS

    for x in EXP_INPUTS:
        e = _EXP_COEFFS[0]
        for c in _EXP_COEFFS[1:]:
            e = e * x + c
        assert e == pytest.approx(math.exp(x), rel=1e-10), x


def test_spark_duckdb_bit_equality_ln(spark):
    df = spark.createDataFrame([(x,) for x in LN_INPUTS], "x double")
    got = {r["x"]: r["y"] for r in df.select("x", det_ln(F.col("x")).alias("y")).collect()}
    t_expr, series = det_ln_sql("x", "t")
    rows = duckdb.sql(
        f"SELECT x, {series} AS y FROM (SELECT x, {t_expr} AS t FROM "
        f"(SELECT unnest({LN_INPUTS!r}) AS x))"
    ).fetchall()
    for x, y in rows:
        assert got[x] == y, f"ln({x}): spark={got[x]!r} duckdb={y!r}"
        # bitwise, not approx: struct-pack equality
        import struct

        assert struct.pack("<d", got[x]) == struct.pack("<d", y)


def test_spark_duckdb_bit_equality_exp(spark):
    df = spark.createDataFrame([(x,) for x in EXP_INPUTS], "x double")
    got = {
        r["x"]: r["y"]
        for r in df.selectExpr("x", f"{det_exp_small_sql('x')} AS y").collect()
    }
    rows = duckdb.sql(
        f"SELECT x, {det_exp_small_sql('x')} AS y "
        f"FROM (SELECT unnest({EXP_INPUTS!r}) AS x)"
    ).fetchall()
    import struct

    for x, y in rows:
        assert struct.pack("<d", got[x]) == struct.pack("<d", y), x


# --- det_ln_q36: the integer-only fixed-point log (r11, q276 fix) --------

Q36_INPUTS = [
    0, 1, 2, 3, 5, 63, 64, 65, 127, 128, 4095, 4096, 5000, 10**6,
    2**31 - 1, 2**31, 2**31 + 1, 10**12, 3 * 10**15, 2**61, 2**62 - 1,
]


def test_det_ln_q36_py_accuracy_and_edges():
    from bbc_news_data_pipeline_spark.functions.detmath import (
        Q36,
        det_ln_q36_py,
    )

    assert det_ln_q36_py(0) == 0  # clamps to ln(1)
    assert det_ln_q36_py(1) == 0
    for v in Q36_INPUTS:
        if v < 1:
            continue
        got = det_ln_q36_py(v) / Q36
        assert got == pytest.approx(math.log(v), abs=2e-9), v


def _apply_stages_duckdb(values):
    from bbc_news_data_pipeline_spark.functions.detmath import (
        det_ln_q36_stages,
    )

    stages = det_ln_q36_stages({"q": "v"}, "duckdb")
    sql = f"SELECT CAST(unnest({values!r}) AS BIGINT) AS v"
    for st in stages:
        cols = ", ".join(f"{e} AS {n}" for n, e in st.items())
        sql = f"SELECT *, {cols} FROM ({sql})"
    return duckdb.sql(f"SELECT v, q_ln FROM ({sql})").fetchall()


def test_det_ln_q36_duckdb_matches_python_twin():
    from bbc_news_data_pipeline_spark.functions.detmath import det_ln_q36_py

    for v, ln in _apply_stages_duckdb(Q36_INPUTS):
        assert ln == det_ln_q36_py(v), v


def test_det_ln_q36_spark_matches_python_twin(spark):
    from bbc_news_data_pipeline_spark.functions.detmath import (
        det_ln_q36_py,
        det_ln_q36_stages,
    )

    df = spark.createDataFrame([(v,) for v in Q36_INPUTS], "v long")
    for st in det_ln_q36_stages({"q": "v"}, "spark"):
        df = df.selectExpr("*", *[f"{e} AS {n}" for n, e in st.items()])
    got = {r["v"]: r["q_ln"] for r in df.select("v", "q_ln").collect()}
    for v in Q36_INPUTS:
        assert got[v] == det_ln_q36_py(v), v


def test_q276_compiles_without_codegen_fallback(spark, sf_dir):
    """The staged binary ladder keeps q276's generated code under the
    JVM's 64 KB method limit: with interpreted fallback disabled, a
    stage that fails to compile raises instead of silently slowing."""
    from bbc_news_data_pipeline_spark.plans.quality_plans import q276_feature_mi

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = q276_feature_mi(spark, sf_dir).collect()
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")
    assert rows
