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


# ---- impute-then-flag with the medians computed once -------------------------
_NAN = float("nan")
_ITF_SCHEMA = "id long, price double, x double, n bigint, z double"
_ITF_FRAMES = {
    # nulls, NaN in both doubles, a bigint column, an all-null column
    # (z) and one price far above the fence
    "mixed": [
        (1, 10.0, 1.0, 10, None),
        (2, None, None, None, None),
        (3, 12.0, _NAN, 31, None),
        (4, _NAN, 4.0, None, None),
        (5, 11.0, 2.5, 20, None),
        (6, 13.0, None, 7, None),
        (7, 1000.0, 3.0, None, None),
        (8, 9.0, _NAN, 12, None),
    ],
    "single": [(1, 5.0, None, 3, None)],
    "null_price": [(1, None, 1.0, None, None), (2, None, None, 4, None)],
    "empty": [],
}


def _repr_rows(d):
    # NaN != NaN: compare through repr so a surviving NaN still matches
    return sorted(tuple(repr(v) for v in r) for r in d.collect())


@pytest.mark.parametrize("frame", sorted(_ITF_FRAMES))
def test_impute_then_flag_matches_composed_reference(spark, frame):
    """One medians aggregate + one broadcast stats row gives exactly the
    imputed columns and flag of impute-then-flag composed from the two
    single-purpose steps."""
    from crypto_etl_pipeline_spark.plans.historical import (
        _flag_outliers,
        _impute_medians,
        _impute_then_flag,
    )

    df = spark.createDataFrame(_ITF_FRAMES[frame], _ITF_SCHEMA)
    cols = ("price", "x", "n", "z")
    want = _flag_outliers(_impute_medians(df, cols), F.col("price"))
    got = _impute_then_flag(df, cols, "price")
    assert got.dtypes == want.dtypes
    assert _repr_rows(got) == _repr_rows(want)
    if frame == "mixed":
        flagged = {r["id"] for r in got.where("is_outlier").collect()}
        assert flagged == {7}


def _raw_historical(spark, prices):
    """The dirty Kaggle shape (all strings, padded headers) with the
    given ``Price`` tokens and fixed, parseable other columns."""
    cols = [
        "Rank", "Coin Name", "Symbol", " Price ", "1h", "24h", "7d", "30d",
        " 24h Volume ", "Circulating Supply", "Total Supply", " Market Cap ",
    ]
    rows = [
        (str(i), f"coin{i}", f"C{i}", p, "1.5%", "-", "0.2%", "-2.0%",
         f"${i},000 ", f"{i}00,000", f"{i} Million", " $-   ")
        for i, p in enumerate(prices, 1)
    ]
    return spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in cols))


def test_clean_historical_orders(spark):
    """order="C" is impute-then-flag: the reference composition over the
    parsed frame, row for row. order="P" flags first, so every null
    price flags True, and imputation still leaves no null price."""
    from crypto_etl_pipeline_spark.plans.historical import (
        NUMERIC_COLS,
        OUTPUT_COLS,
        _flag_outliers,
        _impute_medians,
        clean_historical,
        parse_historical,
    )

    raw = _raw_historical(spark, ["10", " $-   ", "12", "1,000,000", "11", "-", "13"])
    parsed = parse_historical(raw)
    want = _flag_outliers(_impute_medians(parsed, NUMERIC_COLS), F.col("current_price"))
    got = clean_historical(raw, order="C")
    assert got.columns == list(OUTPUT_COLS)
    assert _repr_rows(got) == _repr_rows(want.select(*OUTPUT_COLS))
    assert {r["coin"] for r in got.where("is_outlier").collect()} == {"coin4"}

    p = clean_historical(raw, order="P")
    flagged = {r["coin"] for r in p.where("is_outlier").collect()}
    assert {"coin2", "coin6"} <= flagged  # the null prices
    assert p.where(F.col("current_price").isNull() | F.col("is_outlier").isNull()).count() == 0
