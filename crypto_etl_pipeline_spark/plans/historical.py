"""EP3 — the historical cleaning dataflow (SURVEY.md §3 EP3).

The reference executes eleven separate whole-table pandas passes
(crypto_etl_pipeline.py:137-208). Here the parse cascade is one fused
``select`` of all cleaning expressions (whole-stage codegen), and
impute-then-flag (``_impute_then_flag``) reads the parsed rows three
times: one global ``agg`` for the exact medians, one stats row (the
medians plus the quartiles of the imputed price, from ONE
array-percentage ``percentile``), and one projection that fills and
flags against that broadcast row. No row-level shuffle: global
aggregates are partial+final reductions and the stats rows join as
broadcast scalars.

Operation order follows the colab flow (impute -> outlier flag),
because that is what produced the shipped golden artifact
``cleaned_cryptocurrency_data_final.csv`` (SURVEY.md §2.9 divergence
#1). The production-DAG order (flag-then-impute,
crypto_etl_pipeline.py:193-205) is available as ``order="P"``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from crypto_etl_pipeline_spark.functions.cleaning import (
    normalize_headers,
    parse_grouped_number,
    parse_money,
    parse_percent,
    parse_unit_suffix,
)

# crypto_etl_pipeline.py:145-155 (identical in colab C:167-175)
RENAMES = {
    "Coin Name": "coin",
    "Symbol": "symbol",
    "Price": "current_price",
    "24h Volume": "24h_volume",
    "Circulating Supply": "circulating_supply",
    "Total Supply": "total_supply",
    "Market Cap": "market_cap",
}

PERCENT_COLS = ("1h", "24h", "7d", "30d")
MONEY_COLS = ("24h_volume", "market_cap")
NUMERIC_COLS = (
    "current_price",
    *PERCENT_COLS,
    *MONEY_COLS,
    "circulating_supply",
    "total_supply",
)
OUTPUT_COLS = (
    "coin",
    "symbol",
    "current_price",
    "1h",
    "24h",
    "7d",
    "30d",
    "24h_volume",
    "circulating_supply",
    "total_supply",
    "market_cap",
    "is_outlier",
)


def parse_historical(raw: DataFrame) -> DataFrame:
    """Header-strip + rename + drop + the full parse cascade (F1-F6, F5).

    One fused projection; input is the all-string dirty table
    (sources/csv.py). Null discipline: every unparseable token
    (``" $-   "``, ``"-"``, ``""``) becomes SQL null via try_cast.
    """
    df = normalize_headers(raw)
    df = df.withColumnsRenamed(RENAMES).drop("Rank")
    return df.select(
        F.col("coin"),
        F.col("symbol"),
        parse_grouped_number("current_price").alias("current_price"),
        *[parse_percent(c).alias(c) for c in PERCENT_COLS],
        parse_money("24h_volume").alias("24h_volume"),
        parse_grouped_number("circulating_supply").alias("circulating_supply"),
        parse_unit_suffix("total_supply").alias("total_supply"),
        parse_money("market_cap").alias("market_cap"),
    )


def _quartiles(price: Column) -> list[Column]:
    """``_q1``/``_q3`` of ``price`` from ONE exact ``percentile``: each
    call builds and sorts its own value->count map, and every
    percentage of an array call reads the same sorted map."""
    q = F.percentile(price, F.lit([0.25, 0.75]))
    return [q.getItem(0).alias("_q1"), q.getItem(1).alias("_q3")]


def _is_outlier(price: Column) -> Column:
    """IQR*1.5 Tukey fence against the broadcast ``_q1``/``_q3`` row.

    Null prices flag True: pandas ``~s.between(...)`` turns NaN ->
    False -> ~False -> True (crypto_etl_pipeline.py:199), whereas SQL
    ``NOT (null BETWEEN ..)`` is null — the coalesce restores reference
    parity on the order="P" path (imputation hasn't run yet there)."""
    iqr = F.col("_q3") - F.col("_q1")
    return F.coalesce(
        ~price.between(F.col("_q1") - 1.5 * iqr, F.col("_q3") + 1.5 * iqr),
        F.lit(True),
    ).alias("is_outlier")


def _flag_outliers(df: DataFrame, price: Column) -> DataFrame:
    """IQR*1.5 Tukey fence on ``price`` via one agg + broadcast
    scalars (never an unpartitioned window — SURVEY.md §2.5)."""
    bounds = df.agg(*_quartiles(price))
    return df.crossJoin(F.broadcast(bounds)).select(*df.columns, _is_outlier(price))


def _medians(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """One row: the exact median of each of ``cols`` as ``_med_<c>``."""
    return df.agg(*[F.percentile(F.col(c), F.lit(0.5)).alias(f"_med_{c}") for c in cols])


def _median_fill(df: DataFrame, cols: tuple[str, ...]):
    """``c -> Column``: ``c`` with nulls (and NaN on float/double
    columns) replaced by the ``_med_<c>`` column cast to ``c``'s type,
    as ``df.na.fill(medians)`` does (long columns truncate; a null
    median, from an all-null column, leaves the column as-is). Columns
    outside ``cols`` pass through."""
    types = {f.name: f.dataType for f in df.schema.fields}

    def fill(c: str) -> Column:
        v = F.col(c)
        if c not in cols:
            return v
        if isinstance(types[c], (DoubleType, FloatType)):
            v = F.nanvl(v, F.lit(None))
        return F.coalesce(v, F.col(f"_med_{c}").cast(types[c]))

    return fill


def _impute_medians(df: DataFrame, cols: tuple[str, ...] = NUMERIC_COLS) -> DataFrame:
    """Exact-median imputation of ``cols``, fully lazy: one agg row
    broadcast back via crossJoin + per-column fill (no eager
    ``.first()`` job). Same result as ``df.na.fill(medians)``."""
    fill = _median_fill(df, cols)
    return df.crossJoin(F.broadcast(_medians(df, cols))).select(
        *[fill(c).alias(c) for c in df.columns]
    )


def _impute_then_flag(
    df: DataFrame, cols: tuple[str, ...] = NUMERIC_COLS, price: str = "current_price"
) -> DataFrame:
    """``_flag_outliers(_impute_medians(df, cols), F.col(price))`` with
    the medians computed ONCE. The composed form runs the median
    aggregate twice: in the imputed rows and again under the IQR
    bounds, which read the imputed price (column pruning makes the two
    plans differ, so exchange reuse misses). Here one stats row carries
    the medians (``max`` of a per-row constant) and the quartiles of
    the imputed price, and one broadcast of it fills and flags."""
    fill = _median_fill(df, cols)
    stats = df.crossJoin(F.broadcast(_medians(df, cols))).agg(
        *[F.max(f"_med_{c}").alias(f"_med_{c}") for c in cols],
        *_quartiles(fill(price)),
    )
    return df.crossJoin(F.broadcast(stats)).select(
        *[fill(c).alias(c) for c in df.columns], _is_outlier(fill(price))
    )


def clean_historical(raw: DataFrame, order: str = "C") -> DataFrame:
    """Full EP3: parse -> impute medians -> IQR outlier flag.

    order="C" (default): impute all numeric columns with their exact
    medians FIRST, then compute the IQR fence over the imputed prices —
    golden-artifact semantics (colab C:244-277; 861 outliers on the
    reference data). order="P": flag first over non-null prices (every
    null price then flags True), impute after — the production DAG's
    order (crypto_etl_pipeline.py:193-205).
    """
    parsed = parse_historical(raw)

    if order == "C":
        return _impute_then_flag(parsed).select(*OUTPUT_COLS)

    if order == "P":
        # Flag over non-null prices (nulls flag True — see
        # _is_outlier), THEN impute: the production DAG's order.
        # is_outlier itself is boolean, untouched by _impute_medians.
        flagged = _flag_outliers(parsed, F.col("current_price"))
        return _impute_medians(flagged).select(*OUTPUT_COLS)

    raise ValueError(f"order must be 'C' or 'P', got {order!r}")


def run_historical_pipeline(spark, raw_csv_path: str, out_dir: str) -> dict:
    """EP3 end-to-end with sinks: dirty CSV -> clean -> parquet + CSV +
    profile (the reference's t2 + t4 + t5 collapsed into one lazy plan
    with durable outputs; SURVEY.md §3).

    Returns output paths + row/column counts (the reference's read-back
    stats, computed without re-reading: crypto_etl_pipeline.py:340-354).
    """
    from crypto_etl_pipeline_spark.operators.profiling import (
        profile,
        render_profile_html,
    )
    from crypto_etl_pipeline_spark.sources.csv import read_dirty_csv
    from crypto_etl_pipeline_spark.sources.sinks import (
        write_csv,
        write_parquet,
        write_timestamped_csv,
    )

    raw = read_dirty_csv(spark, raw_csv_path)
    cleaned = clean_historical(raw)

    pq_path = f"{out_dir}/historical_clean.parquet"
    write_parquet(cleaned, pq_path)
    # Durable handoff is parquet; the CSV copies exist for reference
    # parity (S3) and versioned export (S4).
    csv_path = f"{out_dir}/historical_clean_csv"
    write_csv(cleaned, csv_path)
    ts_path = write_timestamped_csv(cleaned, out_dir, "crypto_historical_cleaned")

    prof = profile(spark.read.parquet(pq_path))
    prof_path = f"{out_dir}/historical_profile.parquet"
    write_parquet(prof, prof_path)
    # S5 parity: the reference renders ProfileReport HTML
    # (crypto_etl_pipeline.py:270-273); stats above are unchanged —
    # the renderer only formats the already-computed profile table.
    html_path = render_profile_html(
        prof, "Historical data quality report", f"{out_dir}/historical_profile.html"
    )

    n_rows = spark.read.parquet(pq_path).count()
    return {
        "parquet": pq_path,
        "csv": csv_path,
        "timestamped_csv": ts_path,
        "profile": prof_path,
        "profile_html": html_path,
        "rows": n_rows,
        "columns": len(cleaned.columns),
    }
