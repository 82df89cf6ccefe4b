"""Property-based tests (hypothesis): the parser expressions must agree
with a plain-Python model of the reference semantics on ARBITRARY
inputs, not just hand-picked edges.

Each example batch runs through Spark once (lists of values, one job),
keeping runtime sane.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.functions.classify import TREND_LABELS, classify_trend
from crypto_etl_pipeline_spark.functions.cleaning import parse_unit_suffix

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def model_clean_total_supply(v):
    """Python model of the reference UDF (crypto_etl_pipeline.py:100-127)."""
    if v is None or v == "-" or v == "":
        return None
    s = str(v).replace(",", "").replace("$", "").strip().replace(" ", "")
    try:
        if "Billion" in s:
            out = int(float(s.replace("Billion", "")) * 1_000_000_000)
        elif "Million" in s:
            out = int(float(s.replace("Million", "")) * 1_000_000)
        else:
            out = int(float(s))
    except (ValueError, OverflowError):
        return None
    # Engine deviation: int64 storage — beyond-range values are null
    # (Python ints are unbounded; ANSI Spark would raise on the cast).
    return out if -(2**63) <= out < 2**63 else None


def model_classify(p):
    x = p / 100 if p is not None else None
    if x is None:
        return TREND_LABELS["stable"]
    if x >= 0.05:
        return TREND_LABELS["strong_up"]
    if x > 0.01:
        return TREND_LABELS["moderate_up"]
    if x <= -0.05:
        return TREND_LABELS["strong_down"]
    if x < -0.01:
        return TREND_LABELS["moderate_down"]
    return TREND_LABELS["stable"]


number_text = st.one_of(
    st.integers(-10**12, 10**12).map(str),
    st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False).map(lambda f: f"{f:.4f}"),
)
supply_strings = st.one_of(
    st.just("-"), st.just(""), st.none(),
    number_text,
    number_text.map(lambda s: f"{s} Million"),
    number_text.map(lambda s: f"{s} Billion"),
    number_text.map(lambda s: f"${s}"),
    number_text.map(lambda s: f" {s} , "),
    st.text(alphabet="0123456789.,$- MillionB", min_size=0, max_size=16),
)


@SLOW
@given(st.lists(supply_strings, min_size=1, max_size=60))
def test_parse_unit_suffix_property(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = [r["out"] for r in df.select(parse_unit_suffix(F.col("s")).alias("out")).collect()]
    want = [model_clean_total_supply(v) for v in values]
    mism = [(v, g, w) for v, g, w in zip(values, got, want) if g != w]
    assert not mism, f"first mismatches: {mism[:5]}"


pcts = st.one_of(
    st.none(),
    st.floats(-1000, 1000, allow_nan=False, allow_infinity=False),
    st.sampled_from([5.0, 1.0, -1.0, -5.0, 4.999999999, -4.999999999, 0.0]),
)


@SLOW
@given(st.lists(pcts, min_size=1, max_size=60))
def test_classify_trend_property(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "p double")
    got = [r["out"] for r in df.select(classify_trend(F.col("p")).alias("out")).collect()]
    want = [model_classify(v) for v in values]
    mism = [(v, g, w) for v, g, w in zip(values, got, want) if g != w]
    assert not mism, f"first mismatches: {mism[:5]}"


def test_winnowing_guarantee(spark):
    """Winnowing's core property: two documents sharing a word run of
    at least w + k - 1 words (here 4 + 3 - 1 = 6) share at least one
    fingerprint; disjoint-vocabulary documents share none."""
    from crypto_etl_pipeline_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"seven eight {shared} nine ten eleven twelve"),
            (3, "completely different words with nothing in common here at all"),
        ],
        "doc_id int, text string",
    )
    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "docs sharing a 6-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
