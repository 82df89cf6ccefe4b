"""Property/edge tests for the parser + classifier expression library
(SURVEY.md §5.2 strategy #3) and differential pandas-UDF cross-checks
(§2.11: the reference's two real UDFs, re-run as UDFs, must agree with
the native expressions that replaced them).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from crypto_etl_pipeline_spark.functions.classify import TREND_LABELS, classify_trend
from crypto_etl_pipeline_spark.functions.cleaning import (
    coerce_double,
    parse_grouped_number,
    parse_money,
    parse_percent,
    parse_unit_suffix,
)

S = StructType([StructField("s", StringType(), True)])


def run_expr(spark, expr, values):
    df = spark.createDataFrame([(v,) for v in values], S)
    return [r["out"] for r in df.select(expr(F.col("s")).alias("out")).collect()]


# ---- F5 unit-suffix parse: truncation + failure tokens ---------------------
F5_CASES = [
    ("21 Million", 21_000_000),
    ("88.3 Billion", 88_300_000_000),
    ("1.5", 1),                     # int() truncates toward zero
    ("52,600,000", 52_600_000),
    ("$21 Million", 21_000_000),    # $ stripped
    (" 7  Billion ", 7_000_000_000),
    ("-", None),
    ("", None),
    (None, None),
    ("abcMillion", None),           # ValueError -> NA
    ("12.9999999 Million", 12_999_999),  # truncation, not rounding
    ("0.0000001 Billion", 100),
]


def test_parse_unit_suffix_edges(spark):
    got = run_expr(spark, parse_unit_suffix, [c[0] for c in F5_CASES])
    assert got == [c[1] for c in F5_CASES]


def test_parse_unit_suffix_matches_reference_udf(spark):
    """Differential: native expression == the reference UDF's semantics
    run as a pandas_udf (crypto_etl_pipeline.py:100-127)."""

    @F.pandas_udf("long")
    def clean_total_supply_udf(s: pd.Series) -> pd.Series:
        def clean(v):
            if v is None or pd.isna(v) or v == "-" or v == "":
                return None
            v = str(v).replace(",", "").replace("$", "").strip().replace(" ", "")
            try:
                if "Billion" in v:
                    return int(float(v.replace("Billion", "")) * 1_000_000_000)
                if "Million" in v:
                    return int(float(v.replace("Million", "")) * 1_000_000)
                return int(float(v))
            except ValueError:
                return None

        return s.map(clean).astype("Int64")

    values = [c[0] for c in F5_CASES] + ["3.333 Billion", "999,999.5", "$-", "  "]
    df = spark.createDataFrame([(v,) for v in values], S)
    rows = df.select(
        parse_unit_suffix(F.col("s")).alias("expr"),
        clean_total_supply_udf(F.col("s")).alias("udf"),
    ).collect()
    for v, r in zip(values, rows):
        assert r["expr"] == r["udf"], f"{v!r}: expr={r['expr']} udf={r['udf']}"


# ---- F8 classifier: boundary + null semantics ------------------------------
F8_CASES = [
    (5.0, TREND_LABELS["strong_up"]),      # +5% inclusive
    (5.0000001, TREND_LABELS["strong_up"]),
    (4.9999, TREND_LABELS["moderate_up"]),
    (1.0000001, TREND_LABELS["moderate_up"]),
    (1.0, TREND_LABELS["stable"]),         # exactly +1% -> stable (exclusive)
    (0.0, TREND_LABELS["stable"]),
    (-1.0, TREND_LABELS["stable"]),        # exactly -1% -> stable (exclusive)
    (-1.0000001, TREND_LABELS["moderate_down"]),
    (-4.9999, TREND_LABELS["moderate_down"]),
    (-5.0, TREND_LABELS["strong_down"]),   # -5% inclusive
    (-7.5, TREND_LABELS["strong_down"]),
    (None, TREND_LABELS["stable"]),        # null falls through to otherwise
]


def test_classify_trend_boundaries(spark):
    df = spark.createDataFrame([(v,) for v, _ in F8_CASES], "pct double")
    got = [r["out"] for r in df.select(classify_trend(F.col("pct")).alias("out")).collect()]
    assert got == [lbl for _, lbl in F8_CASES]


def test_classify_trend_matches_reference_udf(spark):
    """Differential vs the row-UDF (crypto_etl_pipeline.py:218-234,
    colab labels). Includes the NaN-poisoning regression: the engine
    must feed null, never float NaN (NaN > thresholds in Spark SQL)."""

    @F.pandas_udf("string")
    def classify_udf(pct: pd.Series) -> pd.Series:
        def c(p):
            x = p / 100 if p is not None and not pd.isna(p) else float("nan")
            if x >= 0.05:
                return TREND_LABELS["strong_up"]
            elif x > 0.01:
                return TREND_LABELS["moderate_up"]
            elif x <= -0.05:
                return TREND_LABELS["strong_down"]
            elif x < -0.01:
                return TREND_LABELS["moderate_down"]
            return TREND_LABELS["stable"]

        return pct.map(c)

    vals = [v for v, _ in F8_CASES] + [0.9999, -0.9999, 100.0, -100.0, 4.999999999]
    df = spark.createDataFrame([(v,) for v in vals], "pct double")
    rows = df.select(
        classify_trend(F.col("pct")).alias("expr"), classify_udf(F.col("pct")).alias("udf")
    ).collect()
    for v, r in zip(vals, rows):
        assert r["expr"] == r["udf"], f"{v!r}: expr={r['expr']} udf={r['udf']}"


def test_nan_is_not_null_poisoning_regression(spark):
    """Spark SQL NaN compares GREATER than any number: a NaN pct would
    classify strong-up, while pandas NaN classifies stable. Guard: the
    parse layer emits null (never NaN), and null classifies stable."""
    df = spark.createDataFrame([(float("nan"),), (None,)], "pct double")
    got = {r["pct"] is not None: r["out"] for r in
           df.select("pct", classify_trend(F.col("pct")).alias("out")).collect()}
    assert got[True] == TREND_LABELS["strong_up"]   # documented NaN hazard
    assert got[False] == TREND_LABELS["stable"]     # engine path (null)
    # and the parse layer never emits NaN for failure tokens:
    parsed = run_expr(spark, coerce_double, ["-", "$-", "", "abc"])
    assert parsed == [None, None, None, None]


# ---- F2/F4/F6: coercion + stripping edges ----------------------------------
def test_parse_money_interior_spaces(spark):
    got = run_expr(spark, parse_money, ["$22,801,222,945.00 ", " $-   ", "$1 2 3", "-", None])
    assert got == [22801222945.0, None, 123.0, None, None]


def test_parse_percent_edges(spark):
    got = run_expr(spark, parse_percent, ["0.40%", "-1.70%", "-", "", None, "12%extra"])
    assert got == [0.004, -0.017, None, None, None, None]


def test_parse_grouped_number_edges(spark):
    got = run_expr(spark, parse_grouped_number, ["19,549,806", "0.16", " $-   ", "1,2,3", None])
    assert got == [19549806.0, 0.16, None, 123.0, None]


# ---- lazy median imputation == na.fill ---------------------------------------
def test_lazy_median_imputation_matches_na_fill(spark):
    from crypto_etl_pipeline_spark.plans.historical import _impute_medians

    nan = float("nan")
    df = spark.createDataFrame(
        [
            (1, 1.0, None, 10),
            (2, None, 2.5, None),
            (3, nan, 4.0, 31),
            (4, 7.0, nan, None),
            (5, 3.0, None, 20),
        ],
        "id long, x double, y double, n long",
    )
    cols = ("x", "y", "n")
    med = df.agg(*[F.percentile(F.col(c), F.lit(0.5)).alias(c) for c in cols]).first()
    want = df.na.fill({c: med[c] for c in cols})
    got = _impute_medians(df, cols)
    assert got.dtypes == want.dtypes

    def rows(d):
        # NaN != NaN: compare through repr so a surviving NaN still matches
        return sorted(tuple(repr(v) for v in r) for r in d.collect())

    assert rows(got) == rows(want)
    assert all(r["x"] == r["x"] and r["y"] == r["y"] for r in got.collect())
