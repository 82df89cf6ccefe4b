"""Retrieval & data-selection queries: BM25 ranking, n-gram LM
perplexity filtering (CCNet-style), and DSIR importance weighting.

These extend the reference's text surface (SURVEY.md §2.13 — the
reference crypto_etl_pipeline.py has no text/IR operators at all; the
survey mandates the training-data-pipeline families) with the three
standard corpus-selection tools a 100 TB LLM-data pipeline runs after
dedup:

- **BM25 top-k** (Robertson/Spärck Jones): lexical retrieval over the
  inverted-postings shape already used by `inverted_index_postings` —
  per-(doc, term) TF join per-term DF join per-doc length, all keyed
  shuffles; the two global scalars (N, avgdl) ride a broadcast scalar
  agg frame. At scale the only corpus-sized state is the postings
  list itself, partitioned by term.
- **Bigram-LM perplexity** (CCNet, Wenzek et al. 2020): train add-k
  bigram counts on the in-domain slice (lang='en'), score EVERY doc by
  mean log-prob. Counts tables are vocab-bounded aggregates; scoring
  is one left join per (doc, bigram) group — no driver state, no
  Python. Unseen bigrams fall back to the smoothing floor via
  coalesce(count, 0).
- **DSIR** (Xie et al. 2023): importance weight = sum over hashed
  n-gram features of count_f * (ln p_target(f) - ln p_raw(f)), with
  features md5-hashed into B buckets (portable to the DuckDB oracle
  via the md5_long recipe, operators/phash.py). The feature-weight
  table is B rows — an Aggregate-bounded frame the lint allows as a
  broadcast side.

All three carry full DuckDB oracles. Ranking surfaces order by the
ROUNDED score (then doc_id) on both engines so float association noise
below the rounding grain cannot flip the compared top-k membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_etl_pipeline_spark.operators.phash import duck_md5_long, md5_long
from crypto_etl_pipeline_spark.operators.textops import token_count, tokens
from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table

# Fixed query-term set for BM25 — common corpus vocabulary so the
# oracle is non-vacuous at every SF.
_BM25_TERMS = ("spark", "join", "stream", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 15

_LM_ALPHA = 0.5  # add-k smoothing
_DSIR_BUCKETS = 128
_DSIR_ALPHA = 0.5

_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, token, pos) — whitespace tokens, one row each.

    The `_toks` discipline: split() runs once per row behind its own
    projection; downstream shapes (TF, DF, bigrams) are all relational
    over the exploded rows, never HOF lambdas over the raw split.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", tokens(F.col("text")).alias("_toks")
    ).select("doc_id", "lang", F.posexplode("_toks").alias("pos", "token"))


@register(
    "bm25_topk_retrieval",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok
      WHERE token IN ({_TERMS_SQL}) GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM tok
      WHERE token IN ({_TERMS_SQL}) GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                        + {_BM25_B} * dl.dl / stats.avgdl))
             ), 4) AS bm25
      FROM tf
      JOIN df USING (token)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
    description=(
        "Okapi BM25 top-k retrieval over whitespace postings "
        "(k1=1.2, b=0.75, fixed 4-term query)"
    ),
    tags=("text", "retrieval"),
)
def bm25_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25(D, Q) = sum_t IDF(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)).

    Plan shape: one postings scan feeds BOTH per-(doc,term) TF and
    per-term DF (two aggregates over the same keyed shuffle family);
    dl is a per-doc aggregate off the same scan. N/avgdl are a 1-row
    scalar frame joined back by broadcast cross join (the repo-wide
    scalar-agg idiom). The query-term IN filter prunes postings before
    any shuffle, so shuffled volume is |postings matching Q|, not the
    corpus. Top-k is TakeOrderedAndProject over the ROUNDED score.
    """
    tok = _doc_tokens(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtok = tok.where(F.col("token").isin(*_BM25_TERMS))
    tf = qtok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # DF = rows per token in the TF AGGREGATE (each row is one distinct
    # (doc, term)) — a |Q|-bounded rollup of an existing aggregate, not
    # a second corpus-scale countDistinct over the postings stream.
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        1.0
                        + (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    )
                    * F.col("tf")
                    * (_BM25_K1 + 1.0)
                    / (
                        F.col("tf")
                        + _BM25_K1
                        * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                    )
                ),
                4,
            ).alias("bm25")
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_BM25_TOPK)


def _bigrams(tok: DataFrame) -> DataFrame:
    """(doc_id, lang, w1, w2) adjacent pairs via a lead window over
    (doc_id, pos) — flat columns and one keyed shuffle, no HOF lambdas
    (the SCALE.md 'Python stages' CollapseProject hazard)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        tok.withColumn("w2", F.lead("token").over(w))
        .where(F.col("w2").isNotNull())
        .select("doc_id", "lang", F.col("token").alias("w1"), "w2")
    )


@register(
    "text_bigram_lm_perplexity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, tk.token, tk.pos FROM documents,
        LATERAL (
          SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token,
                 generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
        ) tk
    ),
    bi AS (
      SELECT doc_id, lang, token AS w1,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok
    ),
    bi2 AS (SELECT doc_id, lang, w1, w2 FROM bi WHERE w2 IS NOT NULL),
    train_bi AS (
      SELECT w1, w2, count(*) AS cb FROM bi2 WHERE lang = 'en' GROUP BY w1, w2
    ),
    train_ctx AS (
      SELECT w1, sum(cb) AS cu FROM train_bi GROUP BY w1
    ),
    vocab AS (SELECT count(DISTINCT w1) AS v FROM train_bi),
    doc_bi AS (
      SELECT doc_id, w1, w2, count(*) AS n FROM bi2 GROUP BY doc_id, w1, w2
    ),
    scored AS (
      SELECT doc_id,
             sum(n * ln((coalesce(cb, 0) + {_LM_ALPHA})
                        / (coalesce(cu, 0) + {_LM_ALPHA} * v))) AS lp,
             sum(n) AS n_bigrams
      FROM doc_bi
      LEFT JOIN train_bi USING (w1, w2)
      LEFT JOIN train_ctx USING (w1)
      CROSS JOIN vocab
      GROUP BY doc_id
    )
    SELECT doc_id,
           round(lp / n_bigrams, 6)      AS avg_logp,
           round(exp(-lp / n_bigrams), 3) AS ppl
    FROM scored
    """,
    description=(
        "CCNet-style bigram-LM perplexity: add-k model trained on the "
        "lang='en' slice scores every document (mean log-prob + ppl)"
    ),
    tags=("text", "quality", "retrieval"),
)
def text_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perplexity under an add-k bigram LM trained in-corpus.

    logP(w2|w1) = ln((c(w1,w2)+a) / (c(w1,·)+a·V)); ppl = exp(-mean).

    Scale shape: the trained tables (train_bi, train_ctx) are
    vocab-bounded AGGREGATES — their size tracks the vocabulary, not
    the corpus, so at 100 TB they are the natural broadcast sides; no
    hint is forced, AQE decides from measured size (the de-hinting
    rule, VERDICT r6 #1). Scoring joins group per-(doc, bigram) first
    so join volume is distinct bigrams per doc, not token count.
    V rides the scalar-agg broadcast idiom.
    """
    bi = _bigrams(_doc_tokens(spark, sf_dir))
    # ONE corpus-scale shuffle: per-(doc, bigram) counts, carrying lang
    # (functionally dependent on doc_id). The trained model then rolls
    # up from THIS aggregate — distinct-bigrams-per-doc volume, not the
    # raw token stream — so train_bi / train_ctx / vocab are cheap
    # cascading rollups of an already-reduced frame.
    doc_bi = bi.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n")
    )
    train_bi = (
        doc_bi.where(F.col("lang") == "en")
        .groupBy("w1", "w2")
        .agg(F.sum("n").alias("cb"))
    )
    train_ctx = train_bi.groupBy("w1").agg(F.sum("cb").alias("cu"))
    vocab = train_bi.agg(F.countDistinct("w1").alias("v"))
    scored = (
        doc_bi.drop("lang")
        .join(train_bi, ["w1", "w2"], "left")
        .join(train_ctx, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("n")
                * F.log(
                    (F.coalesce(F.col("cb"), F.lit(0)) + _LM_ALPHA)
                    / (F.coalesce(F.col("cu"), F.lit(0)) + _LM_ALPHA * F.col("v"))
                )
            ).alias("lp"),
            F.sum("n").alias("n_bigrams"),
        )
    )
    return scored.select(
        "doc_id",
        F.round(F.col("lp") / F.col("n_bigrams"), 6).alias("avg_logp"),
        F.round(F.exp(-F.col("lp") / F.col("n_bigrams")), 3).alias("ppl"),
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, tk.token, tk.pos FROM documents,
        LATERAL (
          SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token,
                 generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
        ) tk
    ),
    grams AS (
      SELECT doc_id, lang, token AS g FROM tok
      UNION ALL
      SELECT doc_id, lang,
             token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos)
      FROM tok
      QUALIFY lead(token) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    ),
    feat AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % {_DSIR_BUCKETS} AS f
      FROM grams
    ),
    target AS (
      SELECT f, count(*) AS ct FROM feat WHERE lang = 'en' GROUP BY f
    ),
    raw AS (
      SELECT f, count(*) AS cr FROM feat GROUP BY f
    ),
    totals AS (
      SELECT (SELECT sum(ct) FROM target) AS tt, (SELECT sum(cr) FROM raw) AS tr
    ),
    bucket_w AS (
      SELECT raw.f,
             ln((coalesce(ct, 0) + {_DSIR_ALPHA}) / (tt + {_DSIR_ALPHA} * {_DSIR_BUCKETS}))
             - ln((cr + {_DSIR_ALPHA}) / (tr + {_DSIR_ALPHA} * {_DSIR_BUCKETS})) AS lw
      FROM raw LEFT JOIN target USING (f) CROSS JOIN totals
    ),
    doc_feat AS (
      SELECT doc_id, f, count(*) AS n FROM feat GROUP BY doc_id, f
    )
    SELECT doc_id, round(sum(n * lw), 6) AS log_weight
    FROM doc_feat JOIN bucket_w USING (f)
    GROUP BY doc_id
    """,
    description=(
        "DSIR importance weights: hashed uni+bigram features (md5 -> "
        f"{_DSIR_BUCKETS} buckets), log-ratio of target(lang='en') vs raw "
        "multinomials, summed per document"
    ),
    tags=("text", "sampling", "retrieval"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023).

    log w(doc) = sum_f count_f(doc) * (ln p_target(f) - ln p_raw(f))
    over md5-hashed uni+bigram features; both feature distributions are
    add-a smoothed multinomials over B={_DSIR_BUCKETS} buckets.

    Scale shape: the bucket-weight table is exactly B rows (Aggregate-
    bounded — the broadcast the lint permits); per-doc feature counts
    group before the join so join volume is min(B, distinct grams) per
    doc. The only corpus-sized shuffles are the two feature-count
    aggregations, both with map-side partial aggregation on an int key.
    """
    tok = _doc_tokens(spark, sf_dir)
    uni = tok.select("doc_id", "lang", F.col("token").alias("g"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.withColumn("w2", F.lead("token").over(w))
        .where(F.col("w2").isNotNull())
        .select(
            "doc_id", "lang", F.concat_ws(" ", F.col("token"), F.col("w2")).alias("g")
        )
    )
    feat = uni.unionByName(big).select(
        "doc_id", "lang", (md5_long(F.col("g"), 8) % _DSIR_BUCKETS).alias("f")
    )
    # ONE corpus-scale shuffle: per-(doc, bucket) counts carrying lang.
    # Global target/raw bucket counts are then a B-bounded conditional
    # rollup of THAT aggregate (the same cascading-rollup shape as the
    # bigram LM) — measured 4.96x -> sublinear at the 10x point when
    # the second corpus-scale pass came out.
    # Materialized once (localCheckpoint): three consumers read this
    # frame (bucket rollup, grand totals, final join) and Catalyst's
    # column pruning gives each a different scan — without the
    # checkpoint the tokenize+md5 lineage re-executes per consumer
    # (measured: 6 scans, ReusedExchange 0). doc_feat is the REDUCED
    # featurized frame (≤ B rows per doc, not the token stream), the
    # standard persist point of a DSIR pipeline at scale.
    doc_feat = (
        feat.groupBy("doc_id", "lang", "f")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    bucket_counts = doc_feat.groupBy("f").agg(
        F.sum("n").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0)).alias("ct"),
    )
    totals = bucket_counts.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    bucket_w = (
        bucket_counts.crossJoin(F.broadcast(totals))
        .select(
            "f",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + _DSIR_ALPHA)
                    / (F.col("tt") + _DSIR_ALPHA * _DSIR_BUCKETS)
                )
                - F.log(
                    (F.col("cr") + _DSIR_ALPHA)
                    / (F.col("tr") + _DSIR_ALPHA * _DSIR_BUCKETS)
                )
            ).alias("lw"),
        )
    )
    # NOTE: lang is kept (not pruned) on this consumer so both readers
    # of doc_feat canonicalize to the SAME exchange — column pruning
    # would otherwise split the scan and recompute the tokenize+md5
    # lineage once per consumer (ReuseExchange: 0 -> 2, scans 6 -> 4).
    return (
        doc_feat.join(F.broadcast(bucket_w), "f")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("n") * F.col("lw")), 6).alias("log_weight"))
    )


# -- token-budget epoch allocation ------------------------------------------

#: temperature exponent for the target mixture (share ~ avail^alpha —
#: the LLaMA/GPT-3 sampling-weight convention; <1 upweights small
#: sources)
BUDGET_ALPHA = 0.7
#: training-token budget as a fraction of the available corpus, so the
#: query is meaningful at every SF
BUDGET_FRAC = 0.6


@register(
    "token_budget_epoch_allocation",
    oracle=f"""
    WITH per_doc AS (
      SELECT source, len(regexp_split_to_array(text, '\\s+')) AS n_tok
      FROM documents
    ),
    per_src AS (
      SELECT source, CAST(sum(n_tok) AS BIGINT) AS avail_tokens,
             pow(sum(n_tok), {BUDGET_ALPHA}) AS w
      FROM per_doc GROUP BY source
    ),
    tot AS (
      SELECT sum(avail_tokens) AS tot_avail, sum(w) AS tot_w FROM per_src
    )
    SELECT s.source, s.avail_tokens,
           round(s.w / t.tot_w, 6) AS tgt_share,
           CAST(round(s.w / t.tot_w * floor(t.tot_avail * {BUDGET_FRAC})) AS BIGINT) AS tgt_tokens,
           round(round(s.w / t.tot_w * floor(t.tot_avail * {BUDGET_FRAC})) / s.avail_tokens, 4) AS epochs
    FROM per_src s CROSS JOIN tot t
    """,
    description="Token-budget allocation: temperature-weighted target tokens and epoch counts per source",
    tags=("text", "sampling"),
)
def token_budget_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planning step ABOVE corpus_mix_temperature: given a training
    token budget (BUDGET_FRAC of the corpus) and the temperature-
    weighted target mixture share^alpha, how many tokens each source
    must contribute and how many EPOCHS of that source that implies
    (epochs > 1 -> the source repeats; the multi-epoch signal drives
    upsampling-harm analyses a la Muennighoff et al. 2023). Per-doc
    token counts are one map-only split-size projection; everything
    after is a source-keyed aggregate (bounded rows) and a broadcast
    scalar cross join — the whole plan touches the corpus exactly
    once regardless of scale."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialized once (localCheckpoint): per_src is the source-
    # bounded aggregate and has TWO consumers (the output rows and the
    # scalar totals) — without it Catalyst re-executes the corpus scan
    # + token-count lineage per consumer (measured: 2 parquet scans).
    per_src = (
        docs.select("source", token_count(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("avail_tokens"))
        .withColumn("w", F.pow(F.col("avail_tokens"), F.lit(BUDGET_ALPHA)))
        .localCheckpoint(eager=False)
    )
    tot = per_src.agg(
        F.sum("avail_tokens").alias("_tot_avail"), F.sum("w").alias("_tot_w")
    )
    budget = F.floor(F.col("_tot_avail") * F.lit(BUDGET_FRAC))
    tgt_raw = F.col("w") / F.col("_tot_w") * budget
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "avail_tokens",
            F.round(F.col("w") / F.col("_tot_w"), 6).alias("tgt_share"),
            F.round(tgt_raw).cast("long").alias("tgt_tokens"),
            F.round(F.round(tgt_raw) / F.col("avail_tokens"), 4).alias("epochs"),
        )
    )


_RRF_K = 60  #: the standard reciprocal-rank-fusion constant
_RRF_POOL = 50  #: top-K pulled from each ranker before fusion
_RRF_TOPK = 10

# The fixed LR scorer's margin recipe (queries/text.py) inlined as
# oracle CTEs — quality is the second ranker in the hybrid fusion.
_LR_DIM_RRF = 256


@register(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok
      WHERE token IN ({_TERMS_SQL}) GROUP BY doc_id, token
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                        + {_BM25_B} * dl.dl / stats.avgdl))
             ), 4) AS bm25
      FROM tf JOIN df USING (token) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats GROUP BY tf.doc_id
    ),
    rel AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
      FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT {_RRF_POOL})
    ),
    f AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(tok2), 1, 8))::BIGINT % {_LR_DIM_RRF} AS feat
      FROM (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS tok2
            FROM documents)
    ),
    m AS (
      SELECT doc_id,
             round(sum((((feat * 2654435761) % 2001) - 1000) / 1000.0)
                   + {(_LR_DIM_RRF * 2654435761) % 2001 - 1000} / 1000.0, 6) AS margin
      FROM f GROUP BY doc_id
    ),
    qual AS (
      SELECT doc_id, row_number() OVER (ORDER BY margin DESC, doc_id) AS quality_rank
      FROM (SELECT * FROM m ORDER BY margin DESC, doc_id LIMIT {_RRF_POOL})
    ),
    fused AS (
      SELECT coalesce(rel.doc_id, qual.doc_id) AS doc_id,
             rel.bm25_rank, qual.quality_rank,
             round(coalesce(1.0 / ({_RRF_K} + rel.bm25_rank), 0)
                 + coalesce(1.0 / ({_RRF_K} + qual.quality_rank), 0), 6) AS rrf_score
      FROM rel FULL OUTER JOIN qual USING (doc_id)
    )
    SELECT doc_id, bm25_rank, quality_rank, rrf_score FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOPK}
    """,
    description="Hybrid retrieval: reciprocal-rank fusion of BM25 relevance with the quality-classifier prior (k=60, 50-deep pools)",
    tags=("text", "retrieval", "topk"),
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    hybrid-search combiner: RRF(d) = Σ_r 1/(k + rank_r(d)) over the
    rankers that retrieved d, here BM25 relevance fused with the
    corpus-quality prior (the blend production search stacks run;
    score scales never need calibrating because only RANKS enter).
    Scale shape: each ranker independently reduces to its top-{_RRF_POOL}
    via TakeOrderedAndProject (per-partition prune, never a global
    sort); ranks are then row_numbers over the two Limit-bounded
    pools, the fusion is a {_RRF_POOL}x{_RRF_POOL}-bounded full outer
    join, and both rank orders are exact (rounded BM25 grid + doc_id,
    integer-thousandth margin grid + doc_id), so fused membership
    cannot drift between engines."""
    from crypto_etl_pipeline_spark.operators.lrmodel import (
        fixed_hash_weights,
        hashed_presence_features,
    )
    docs = load_table(spark, sf_dir, "documents")
    # Rebuild the BM25 scored frame rather than reusing the registered
    # top-15 result: the fusion pool is deeper. Same plan as
    # bm25_topk_retrieval up to the limit.
    tok = _doc_tokens(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        tok.where(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(dfreq, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * (_BM25_K1 + 1.0) / denom), 4).alias("bm25"))
    )
    rel_pool = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_RRF_POOL)
    rel = rel_pool.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("bm25_rank"),
    )
    wts = fixed_hash_weights(_LR_DIM_RRF)
    warr = F.array(*[F.lit(float(x)) for x in wts[:_LR_DIM_RRF]])
    feats = hashed_presence_features(docs, dim=_LR_DIM_RRF)
    mexpr = F.sum(F.element_at(warr, F.col("feat").cast("int") + 1)) + F.lit(
        float(wts[_LR_DIM_RRF])
    )
    margins = feats.groupBy("doc_id").agg(F.round(mexpr, 6).alias("margin"))
    qual_pool = margins.orderBy(F.desc("margin"), F.asc("doc_id")).limit(_RRF_POOL)
    qual = qual_pool.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("margin"), F.asc("doc_id")))
        .alias("quality_rank"),
    )
    fused = rel.join(qual, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "quality_rank",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("quality_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(_RRF_TOPK)


@register(
    "ccnet_quality_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, tk.token, tk.pos FROM documents,
        LATERAL (
          SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token,
                 generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
        ) tk
    ),
    bi AS (
      SELECT doc_id, lang, token AS w1,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok
    ),
    bi2 AS (SELECT doc_id, lang, w1, w2 FROM bi WHERE w2 IS NOT NULL),
    doc_bi AS (
      SELECT doc_id, lang, w1, w2, count(*) AS n FROM bi2
      GROUP BY doc_id, lang, w1, w2
    ),
    train_bi AS (
      SELECT w1, w2, sum(n) AS cb FROM doc_bi WHERE lang = 'en'
      GROUP BY w1, w2
    ),
    dtr AS (SELECT count(*) AS d FROM documents
            WHERE lang = 'en' AND len(regexp_split_to_array(text, '\\s+')) >= 2),
    scored AS (
      SELECT d.doc_id, d.lang,
             sum(d.n)::BIGINT AS n_big,
             sum(CASE WHEN cb IS NULL OR cb * 20 < dtr.d THEN d.n ELSE 0 END)::BIGINT
               AS n_rare
      FROM doc_bi d LEFT JOIN train_bi USING (w1, w2) CROSS JOIN dtr
      GROUP BY d.doc_id, d.lang
    ),
    tot AS (SELECT sum(n_rare)::BIGINT AS s_rare, sum(n_big)::BIGINT AS s_big
            FROM scored),
    b AS (
      SELECT lang,
             CASE WHEN n_rare * s_big * 10 < n_big * s_rare * 8  THEN 'head'
                  WHEN n_rare * s_big * 10 < n_big * s_rare * 12 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             n_rare, n_big
      FROM scored CROSS JOIN tot
    )
    SELECT lang, bucket, count(*) AS n_docs,
           sum(n_rare)::BIGINT AS rare_bigrams,
           sum(n_big)::BIGINT  AS total_bigrams,
           round(sum(n_rare) * 1.0 / sum(n_big), 4) AS rare_frac
    FROM b GROUP BY lang, bucket
    """,
    description=(
        "CCNet-style head/middle/tail quality split: per-doc rare-bigram "
        "mass vs the in-domain (en) model, bucketed at 0.8x/1.2x the "
        "corpus-mean rare fraction via exact cross-multiplication"
    ),
    tags=("text", "quality", "retrieval"),
)
def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet (Wenzek et al. 2020) corpus split: score every
    document against a reference LM trained on in-domain data, cut
    into head / middle / tail, train preferentially on the head.
    CCNet scores with a Wikipedia 5-gram KenLM and percentile cutoffs
    computed offline; this rebuild scores by the doc's RARE-bigram
    mass under the lang='en' in-corpus model (rare = bigram count
    below 1/20th of the training-doc count, so the rarity bar tracks
    corpus growth) and buckets each doc against 0.8x / 1.2x the
    corpus-mean rare fraction. Every comparison is exact integer
    cross-multiplication over BIGINT sums — no FP summation anywhere,
    so a bucket boundary can never flake cross-engine. The products
    stay under 2^63 only while max(per-doc mass) * corpus mass * 12
    does; past that non-ANSI Spark would WRAP SILENTLY where the
    DuckDB oracle errors loudly, so the bucket expression carries an
    explicit raise_error guard (magnitude pre-checked in double, which
    cannot wrap) — overflow now fails loudly on BOTH engines, and the
    fix at that scale is pre-dividing the corpus scalars. Both normalizers (training-doc count, corpus
    rare/total mass) ride the 1-row-aggregate broadcast idiom. Scale
    shape matches text_bigram_lm_perplexity: ONE corpus-scale shuffle
    builds per-(doc,bigram) counts; the trained table is a
    vocab-bounded aggregate (the natural AQE broadcast side); output
    is |lang| x 3 rows. Docs under 2 tokens have no bigrams and drop
    out on both engines. Measured split at sf0.01: 160/198/142 docs
    (sf0.1: 2318/876/1806) — non-degenerate at both SFs.

    Consumer discipline (measured, both alternatives rejected): doc_bi
    naively feeds THREE consumers (train_bi, dtr, scored) and each
    recomputes the tokenize/explode/groupBy subtree (ReuseExchange
    dedups exchanges, not map-side partial-agg work). A lazy
    localCheckpoint halves the sf1.0 wall (13.8 -> 5.2 s) but
    materializes a CORPUS-SIZED frame to executor storage — at sf3.0
    it regresses 12.9 -> 17-21 s and at 100 TB it would thrash. The
    shipped form instead removes a consumer: dtr (the training-doc
    count) reads the documents SCAN directly (en docs with >= 2
    tokens — same set), so doc_bi evaluates twice, bounded, with no
    storage dependence."""
    bi = _bigrams(_doc_tokens(spark, sf_dir))
    doc_bi = bi.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n")
    )
    train_bi = (
        doc_bi.where(F.col("lang") == "en")
        .groupBy("w1", "w2")
        .agg(F.sum("n").alias("cb"))
    )
    docs = load_table(spark, sf_dir, "documents")
    dtr = (
        docs.where(
            (F.col("lang") == "en")
            & (token_count(F.col("text")) >= 2)
        ).agg(F.count(F.lit(1)).alias("d"))
    )
    scored = (
        doc_bi.join(train_bi, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(dtr))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").cast("long").alias("n_big"),
            F.sum(
                F.when(
                    F.col("cb").isNull() | (F.col("cb") * 20 < F.col("d")),
                    F.col("n"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_rare"),
        )
        # r13: TWO consumers read scored (the corpus-total aggregate
        # and the bucket pass), and each evaluation re-derives the
        # whole bigram build — doc_bi twice over (train side + probe
        # side), i.e. four tokenize/explode/groupBy subtrees in the
        # executed plan (12 parquet scans). Unlike doc_bi (whose
        # checkpoint the docstring's sf3.0 measurement rejects as
        # corpus-sized), scored is ONE ROW PER DOC — the same storage
        # class as the funnels' checkpointed doc frames — so pinning
        # it halves the upstream work without the thrash risk.
        .localCheckpoint(eager=False)
    )
    tot = scored.agg(
        F.sum("n_rare").cast("long").alias("s_rare"),
        F.sum("n_big").cast("long").alias("s_big"),
        F.max("n_rare").cast("long").alias("m_rare"),
        F.max("n_big").cast("long").alias("m_big"),
    )
    # Loud-overflow guard (r10 ADVICE): the exact-int64 bucket compare
    # wraps silently in non-ANSI Spark once any cross-product leaves
    # int64. Pre-check the worst-case magnitudes in double (doubles
    # cannot wrap; 4e18 < 2^62 leaves margin for double rounding) and
    # raise_error — matching the oracle's loud-fail behavior.
    in_bounds = (
        F.col("m_rare").cast("double") * F.col("s_big").cast("double") * 12.0
        < 4.0e18
    ) & (
        F.col("m_big").cast("double") * F.col("s_rare").cast("double") * 12.0
        < 4.0e18
    )
    bucket = (
        F.when(
            F.col("n_rare") * F.col("s_big") * 10
            < F.col("n_big") * F.col("s_rare") * 8,
            "head",
        )
        .when(
            F.col("n_rare") * F.col("s_big") * 10
            < F.col("n_big") * F.col("s_rare") * 12,
            "middle",
        )
        .otherwise("tail")
    )
    b = scored.crossJoin(F.broadcast(tot)).withColumn(
        "bucket",
        F.when(
            ~in_bounds,
            F.raise_error(
                F.lit(
                    "ccnet_quality_buckets: bigram mass exceeds the "
                    "exact-int64 cross-multiplication bound; pre-divide "
                    "the corpus scalars before bucketing"
                )
            ).cast("string"),
        ).otherwise(bucket),
    )
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_rare").cast("long").alias("rare_bigrams"),
        F.sum("n_big").cast("long").alias("total_bigrams"),
        F.round(F.sum("n_rare") / F.sum("n_big"), 4).alias("rare_frac"),
    )
