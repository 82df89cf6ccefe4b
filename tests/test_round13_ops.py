"""Round-13 operator tests: URL canonicalization + per-URL dedup
(CCNet §2 / C4) and the r12 ADVICE fixes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.queries import REGISTRY

SF_GATE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# --- URL canonicalization ----------------------------------------------------

#: (raw, expected canonical) — hand-derived edge cases. The cross-
#: engine parity test below ALSO runs every raw form through DuckDB's
#: generated twin, so these pin semantics and the twin pins parity.
URL_CASES = [
    # case-folding scheme+host, default port, www., fragment
    ("HTTPS://WWW.Example.COM:443/Path/a#frag", "https://example.com/Path/a"),
    ("http://example.com:80/", "http://example.com/"),
    # non-default port survives
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    # https:80 is NOT a default port -> survives
    ("https://example.com:80/x", "https://example.com:80/x"),
    # trailing slash; empty path
    ("https://a.io/docs/", "https://a.io/docs"),
    ("https://a.io", "https://a.io/"),
    # tracking params dropped, survivors sorted, '?' dropped when none
    ("https://a.io/p?utm_source=x&b=2&a=1&gclid=z", "https://a.io/p?a=1&b=2"),
    ("https://a.io/p?utm_campaign=c&fbclid=f", "https://a.io/p"),
    # bare-key params: 'ref' dropped, unknown bare key kept
    ("https://a.io/p?ref&dark", "https://a.io/p?dark"),
    # no scheme -> http default
    ("example.org/a?b=1", "http://example.org/a?b=1"),
    # whitespace trim; path case preserved; query value case preserved
    ("  https://A.io/P?K=V  ", "https://a.io/P?K=V"),
    # utm_ prefix only matches prefix, not substring
    ("https://a.io/p?xutm_source=1", "https://a.io/p?xutm_source=1"),
]


@pytest.mark.quick
def test_canonical_url_semantics(spark):
    from crypto_etl_pipeline_spark.operators.urlops import canonical_url

    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(URL_CASES)], "i long, u string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    for i, (raw, want) in enumerate(URL_CASES):
        assert got[i] == want, (raw, got[i], want)


@pytest.mark.quick
def test_canonical_url_cross_engine_parity(spark):
    """The DuckDB twin (generated from the same tracking-param table)
    must agree byte-for-byte with the Spark expression on every edge
    case — including the regex-dialect hazards (RE2 vs Java regex)."""
    import duckdb

    from crypto_etl_pipeline_spark.operators.urlops import (
        canonical_url,
        canonical_url_sql,
    )

    raws = [raw for raw, _ in URL_CASES] + [
        "HTTP://WWW.M.Net:80/a/b/?z=9&y=8&utm_x=1#x",
        "https://h.io/%7Euser/a%20b?q=a%26b",  # percent-encoded survives as-is
    ]
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(raws)], "i long, u string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    con = duckdb.connect()
    for i, raw in enumerate(raws):
        want = con.execute(
            f"SELECT {canonical_url_sql('u')} FROM (SELECT ? AS u)", [raw]
        ).fetchone()[0]
        assert got[i] == want, (raw, repr(got[i]), repr(want))


def test_dedup_by_url_collapses_refetch_pairs(spark):
    """Every synthetic fetch pair (clean + messy variant of one doc)
    must land in one canonical-URL group: no group may contain exactly
    one fetch of a doc whose other fetch went elsewhere. Concretely:
    n_fetches = 2 * n_docs for every group (each doc contributes BOTH
    variants), and total fetches = 2 * |documents|."""
    rows = REGISTRY["dedup_by_url"].fn(spark, SF_GATE).collect()
    assert rows
    total = 0
    for r in rows:
        assert r["n_fetches"] == 2 * r["n_docs"], r
        total += r["n_fetches"]
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_GATE}/documents.parquet')"
    ).fetchone()[0]
    assert total == 2 * n_docs


def test_web_host_profile_shape(spark):
    """Hosts are the canonical (lowercased, www-stripped, portless)
    forms; fetch mass adds up; n_urls <= n_fetches."""
    rows = REGISTRY["web_host_profile"].fn(spark, SF_GATE).collect()
    assert rows
    for r in rows:
        assert r["host"].startswith("h") and r["host"].endswith(".example.org")
        assert r["n_urls"] <= r["n_fetches"]
        assert r["n_docs"] <= r["n_fetches"]


# --- r12 ADVICE regression pins ---------------------------------------------


@pytest.mark.quick
def test_verify_contract_space_form_args(tmp_path):
    """--resume-from/--sample accept BOTH `--flag=v` and `--flag v`
    (the r12 parser raised IndexError on the documented space form and
    swallowed the value as sf_dir)."""
    import subprocess
    import sys

    log = tmp_path / "prior.log"
    log.write_text("q1_pricing_summary MATCH 4\n")
    # --sample of a bogus name + resume skipping it => zero queries run,
    # exits 0 fast without touching Spark
    out = subprocess.run(
        [
            sys.executable,
            "scripts/verify_contract.py",
            "/root/testdata/sf0.001",
            "--sample", "q1_pricing_summary",
            "--resume-from", str(log),
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert "resume: skipping 1" in out.stdout, out.stdout[-500:]
    assert "DONE bad=0 total=0" in out.stdout, out.stdout[-500:]


@pytest.mark.quick
def test_gate_cost_flag_semantics():
    """GATE_COST.json contract (r12 ADVICE #4): `passing` means the
    suite was green; tripwire-only runs are cost_valid but NOT
    passing. Asserted on the recorded file when present."""
    import json

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "GATE_COST.json",
    )
    if not os.path.exists(path):
        pytest.skip("no GATE_COST.json on this tree")
    rec = json.load(open(path))
    for h in rec.get("history", [rec]):
        if h.get("tripwire_only") and "cost_valid" in h:
            assert not h["passing"], (
                "a tripwire-only run recorded passing=true under the "
                "r13 contract (passing == suite green)"
            )


@pytest.mark.quick
def test_emb_count_metadata_only(spark):
    """sem_k's corpus count comes from parquet footer metadata, not a
    Spark action (r12 ADVICE #5): it must match the true count and
    must not require a SparkSession at all."""
    import duckdb

    from crypto_etl_pipeline_spark.queries.vector import _emb_count

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_GATE}/embeddings.parquet')"
    ).fetchone()[0]
    assert _emb_count(SF_GATE) == n
    # memoized: second call hits the dict
    from crypto_etl_pipeline_spark.queries.vector import _EMB_COUNT_MEMO

    assert SF_GATE in _EMB_COUNT_MEMO


def test_ivf_index_memo_revalidates(spark):
    """If the persisted IVF scratch dir vanishes (external cleanup),
    the memo must rebuild instead of handing the probe a dangling
    path (r12 ADVICE #3)."""
    import shutil

    from crypto_etl_pipeline_spark.queries.vector import (
        _IVF_INDEX_MEMO,
        _ivf_persisted_index,
    )

    path, _ = _ivf_persisted_index(spark, SF_GATE)
    assert os.path.isdir(path)
    shutil.rmtree(os.path.dirname(path))
    path2, _ = _ivf_persisted_index(spark, SF_GATE)
    assert os.path.isdir(path2), "memo did not rebuild after scratch cleanup"
    assert SF_GATE in _IVF_INDEX_MEMO


# --- deterministic epoch shuffle --------------------------------------------


def test_epoch_shuffle_deterministic_and_seeded(spark):
    """Same seed -> bit-identical order across two independent builds;
    different seed -> a different permutation; positions are dense
    1..N per epoch; the per-epoch orders differ from each other."""
    from crypto_etl_pipeline_spark.operators.sampling import epoch_shuffle

    ids = spark.range(97).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("pid")
    )
    a = sorted(
        (r["epoch"], r["position"], r["pid"])
        for r in epoch_shuffle(ids, "pid", n_epochs=2, seed="s1").collect()
    )
    b = sorted(
        (r["epoch"], r["position"], r["pid"])
        for r in epoch_shuffle(ids, "pid", n_epochs=2, seed="s1").collect()
    )
    c = sorted(
        (r["epoch"], r["position"], r["pid"])
        for r in epoch_shuffle(ids, "pid", n_epochs=2, seed="s2").collect()
    )
    assert a == b, "same seed must replay bit-identically"
    assert a != c, "different seed must permute differently"
    for rows in (a, c):
        by_epoch = {}
        for e, pos, pid in rows:
            by_epoch.setdefault(e, []).append(pos)
        assert sorted(by_epoch) == [0, 1]
        for e, poss in by_epoch.items():
            assert sorted(poss) == list(range(1, 98)), f"epoch {e} not dense"
    order0 = [pid for e, pos, pid in sorted(a) if e == 0]
    order1 = [pid for e, pos, pid in sorted(a) if e == 1]
    assert order0 != order1, "epochs must get distinct permutations"


def test_train_epoch_shuffle_layout_invariant(spark):
    """The registered query's order must not depend on partition
    layout: rebuilding the pack universe with a different shuffle
    width yields the same (epoch, position, pack_id) triples."""
    rows1 = REGISTRY["train_epoch_shuffle"].fn(spark, SF_GATE).collect()
    got1 = sorted((r["epoch"], r["position"], r["pack_id"]) for r in rows1)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        rows2 = REGISTRY["train_epoch_shuffle"].fn(spark, SF_GATE).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    got2 = sorted((r["epoch"], r["position"], r["pack_id"]) for r in rows2)
    assert got1 == got2


# --- bitext mining -----------------------------------------------------------


def test_bitext_margin_recovers_planted_pairs(spark):
    """Planted-translation recall: 8 src vectors each have ONE true
    translation on the tgt side (same direction + small noise) hidden
    among 40 random distractors, plus a HUB tgt vector moderately
    close to everything. Margin mining must (a) pick the planted
    partner for every src (recall 1.0 on this margin structure), and
    (b) score every planted pair above margin 1.0 while the hub's
    margin stays below the planted pairs' (the ratio denominator is
    exactly what demotes hubs — the point of Artetxe & Schwenk)."""
    import random

    from crypto_etl_pipeline_spark.operators.bitext import (
        bitext_margin_pairs,
        mine_bitext,
    )

    rng = random.Random(7)
    dim = 16

    def unit(v):
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    def randv():
        return unit([rng.gauss(0, 1) for _ in range(dim)])

    srcs = [(i, randv()) for i in range(8)]
    tgts = []
    for i, v in srcs:  # planted translation: same direction + noise
        noisy = unit([x + rng.gauss(0, 0.05) for x in v])
        tgts.append((100 + i, noisy))
    for j in range(40):  # distractors
        tgts.append((200 + j, randv()))
    # a hub vector: moderately close to many srcs at once
    hub = unit([1.0 / (i + 1.0) for i in range(dim)])
    tgts.append((300, hub))

    src_df = spark.createDataFrame(srcs, "vec_id long, embedding array<float>")
    tgt_df = spark.createDataFrame(tgts, "vec_id long, embedding array<float>")
    mined = {
        r["src_id"]: (r["tgt_id"], r["margin"])
        for r in mine_bitext(bitext_margin_pairs(src_df, tgt_df)).collect()
    }
    assert set(mined) == {i for i, _ in srcs}
    for i, _ in srcs:
        tgt_id, margin = mined[i]
        assert tgt_id == 100 + i, f"src {i} mined {tgt_id}, wanted {100 + i}"
        assert margin > 1.0, f"planted pair margin {margin} not > 1"


# embeddings 91 (en) and 229 (de) of perfbench's sf0.01 tables (seed 42)
_BOUNDARY_SRC = [
    -0.039225187, -0.076184094, 0.041901205, 0.12105242, 0.006759072,
    -0.060994968, -0.040826153, -0.0521446, 0.2103833, 0.12980382,
    -0.0023366322, 0.22848439, 0.12378931, -0.17541267, 0.23323229,
    -0.09416123, -0.03679434, -0.043305956, 0.1601623, -0.012215519,
    -0.037818406, -0.032646157, -0.11976497, 0.10407017, -0.048717536,
    -0.055340055, 0.000424464, 0.10641371, 0.30383557, 0.11897867,
    -0.006419844, 0.1705858, 0.2111728, -0.05238724, -0.005664801,
    -0.056775067, 0.062010266, 0.0017916729, 0.09651412, -0.16334382,
    -0.01154771, -0.010150566, -0.14290737, -0.14148107, 0.10782102,
    -0.0337449, 0.14901204, 0.016288841, 0.10335597, -0.035359524,
    -0.047194615, 0.00830468, -0.1469083, -0.1751433, 0.21011582,
    0.20492956, 0.13413669, 0.019578429, -0.121469244, 0.18313615,
    0.24023353, -0.07087069, -0.27286538, 0.11621374,
]
_BOUNDARY_TGT = [
    -0.0058657406, -0.15751092, 0.032065377, 0.054404244, 0.004304771,
    0.084169544, 0.019701816, -0.14939155, 0.09362963, 0.10395835,
    -0.014898611, 0.12445474, 0.0840575, -0.28100458, 0.22582492,
    -0.11530622, 0.090890594, -0.032677814, -0.18760216, 0.030655434,
    -0.06770664, -0.015151435, -0.29651868, 0.058656253, 0.17087969,
    -0.05800474, 0.18762185, 0.0832941, 0.08958418, -0.0015260336,
    0.18686269, 0.028504938, 0.032942742, -0.014058691, 0.022945171,
    0.07951871, 0.038448013, -0.0776332, 0.04163338, -0.09544563,
    -0.074687734, -0.07571828, 0.009203781, -0.07241805, -0.078679696,
    0.12133826, 0.09299872, 0.12581037, 0.016668323, -0.23055387,
    0.049064104, 0.08203946, -0.20022993, -0.0918502, 0.17487743,
    0.32634225, 0.23075989, 0.13967256, -0.031371918, 0.15895408,
    0.17210656, -0.022790246, -0.17077897, 0.025339698,
]


def test_bitext_boundary_pair_scores_identically_in_both_engines(spark, tmp_path):
    """Regression: this pair's float cosine lies within float error of
    0.60905, so a float cosine rounded to 4 decimals gave 0.609 in Spark
    (float64) and 0.6091 in DuckDB (float32 list_cosine_similarity):
    bitext_mine_margin and embedding_cosine_near_dup (the pair under one
    label) disagreed with their oracles. The exact integer cosine gives
    0.609 in both engines."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = {
        "embeddings": {
            "vec_id": pa.array([91, 229], pa.int64()),
            "embedding": pa.array([_BOUNDARY_SRC, _BOUNDARY_TGT], pa.list_(pa.float32())),
            "label": pa.array([3, 3], pa.int32()),
        },
        "documents": {"doc_id": pa.array([91, 229], pa.int64()), "lang": ["en", "de"]},
    }
    con = duckdb.connect()
    for name, cols in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for name, want in (
        ("bitext_mine_margin", [(91, 229, 0.609, 1.0)]),
        ("embedding_cosine_near_dup", [(91, 229, 0.609)]),
    ):
        q = REGISTRY[name]
        assert [tuple(r) for r in q.fn(spark, str(tmp_path)).collect()] == want, name
        assert con.sql(q.oracle).fetchall() == want, name


def test_pair_ci_null_and_zero_vectors_agree_across_engines(spark):
    """A null vector, or one that quantizes to all zeros, has no cosine:
    the Spark kernel and its DuckDB twin both return a null ci (the
    kernel used to return INT64_MIN for the zero vector and raise on
    the null one), and a regular pair keeps its exact value."""
    import duckdb

    from crypto_etl_pipeline_spark.operators.similarity import (
        duck_pair_ci,
        duck_qv,
        pair_ci_pd,
    )

    v = [0.5, -0.25, 0.125, 0.75]
    rows = [(0, [0.0, 0.0, 0.0, 0.0], v), (1, None, v), (2, [1e-9, 0.0, 0.0, 0.0], v), (3, v, v)]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    got = [
        tuple(r)
        for r in df.select("id", pair_ci_pd()(F.col("a"), F.col("b")))
        .orderBy("id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, a FLOAT[], b FLOAT[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck = con.sql(
        f"SELECT id, {duck_pair_ci('qa', 'qb')} FROM "
        f"(SELECT id, {duck_qv('a')} AS qa, {duck_qv('b')} AS qb FROM t) ORDER BY id"
    ).fetchall()

    assert got == duck == [(0, None), (1, None), (2, None), (3, 10000)]


def test_bitext_intersection_keeps_planted_drops_hub(spark):
    """Intersection mining on the planted fixture: every planted pair
    is mutual-best and survives; the hub vector can be the backward
    best of at most one src, so at most one hub pair can ever appear,
    and none should here (every src's forward best is its planted
    partner)."""
    import random

    from crypto_etl_pipeline_spark.operators.bitext import bitext_margin_pairs

    rng = random.Random(11)
    dim = 16

    def unit(v):
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    srcs = [(i, unit([rng.gauss(0, 1) for _ in range(dim)])) for i in range(6)]
    tgts = [
        (100 + i, unit([x + rng.gauss(0, 0.05) for x in v])) for i, v in srcs
    ] + [(200 + j, unit([rng.gauss(0, 1) for _ in range(dim)])) for j in range(30)]
    src_df = spark.createDataFrame(srcs, "vec_id long, embedding array<float>")
    tgt_df = spark.createDataFrame(tgts, "vec_id long, embedding array<float>")

    from pyspark.sql.window import Window

    scored = bitext_margin_pairs(src_df, tgt_df)
    w_f = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.desc("cos_sim"), F.asc("tgt_id")
    )
    w_b = Window.partitionBy("tgt_id").orderBy(
        F.desc("margin"), F.desc("cos_sim"), F.asc("src_id")
    )
    fwd = scored.withColumn("r", F.row_number().over(w_f)).where("r = 1")
    bwd = scored.withColumn("r", F.row_number().over(w_b)).where("r = 1")
    inter = fwd.select("src_id", "tgt_id").intersect(
        bwd.select("src_id", "tgt_id")
    )
    got = {(r["src_id"], r["tgt_id"]) for r in inter.collect()}
    assert got == {(i, 100 + i) for i, _ in srcs}


def test_cap_fetches_per_host_observable_truncation(spark):
    """Host-cap algebra: no host exceeds HOST_CAP kept fetches, kept
    counts are dense hash-rank prefixes, cap_applied is exactly
    (n_host > HOST_CAP), and the spill is recoverable arithmetic
    (n_host - kept) — the silent-cap discipline."""
    from crypto_etl_pipeline_spark.queries.web import HOST_CAP

    rows = REGISTRY["cap_fetches_per_host"].fn(spark, SF_GATE).collect()
    assert rows
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    for host, hr in by_host.items():
        assert len(hr) <= HOST_CAP, host
        assert sorted(r["host_rank"] for r in hr) == list(range(1, len(hr) + 1))
        n_host = hr[0]["n_host"]
        for r in hr:
            assert r["n_host"] == n_host
            assert r["cap_applied"] == (n_host > HOST_CAP)
        if n_host > HOST_CAP:
            assert len(hr) == HOST_CAP
        else:
            assert len(hr) == n_host


def test_bitext_bucketed_cell_discipline(spark):
    """Bucketed-miner invariants: every mined src is an en-lang
    vector, every tgt a de-lang vector, each pair shares the src's
    IVF cell (the whole point of the bucketing), one row per src, and
    margins are positive and finite with cos_sim in [-1, 1]."""
    import duckdb

    rows = REGISTRY["bitext_mine_bucketed"].fn(spark, SF_GATE).collect()
    assert rows
    assert len({r["src_id"] for r in rows}) == len(rows)
    langs = dict(
        duckdb.sql(
            f"SELECT doc_id, lang FROM read_parquet('{SF_GATE}/documents.parquet')"
        ).fetchall()
    )
    for r in rows:
        assert langs[r["src_id"]] == "en"
        assert langs[r["tgt_id"]] == "de"
        assert -1.0 <= r["cos_sim"] <= 1.0
        assert r["margin"] is not None and r["margin"] > 0
    # cell consistency: recompute each side's assignment via the same
    # seeded kernel and check both endpoints share the reported cell
    from crypto_etl_pipeline_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_build_centroids,
    )
    from crypto_etl_pipeline_spark.queries.vector import _emb_count, sem_k
    from crypto_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_GATE, "embeddings")
    cents = ivf_build_centroids(emb, k=sem_k(_emb_count(SF_GATE)), iters=0)
    cell_of = {
        r["neighbor_id"]: r["_cell"]
        for r in ivf_assign_cells(emb, cents).select("neighbor_id", "_cell").collect()
    }
    for r in rows:
        assert cell_of[r["src_id"]] == r["cell"] == cell_of[r["tgt_id"]]


def test_train_shard_manifest_contiguity(spark):
    """Shard algebra: within each epoch, shards tile the position
    space contiguously (last-first+1 == n_packs, ranges abut), every
    shard except possibly the last holds exactly _SHARD_SIZE packs,
    and both epochs shard the same universe size."""
    from crypto_etl_pipeline_spark.queries.selection import _SHARD_SIZE

    rows = REGISTRY["train_shard_manifest"].fn(spark, SF_GATE).collect()
    assert rows
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    sizes = set()
    for e, shards in by_epoch.items():
        shards.sort(key=lambda r: r["shard"])
        expect_first = 1
        for i, s in enumerate(shards):
            assert s["first_position"] == expect_first, (e, s)
            assert s["last_position"] - s["first_position"] + 1 == s["n_packs"]
            if i < len(shards) - 1:
                assert s["n_packs"] == _SHARD_SIZE
            expect_first = s["last_position"] + 1
        sizes.add(expect_first - 1)
    assert len(sizes) == 1, "epochs must shard the same universe"


# --- property tests ----------------------------------------------------------


def test_canonical_url_idempotent_and_twin_parity_random(spark):
    """A canonicalizer must be a FIXPOINT: canonical(canonical(u)) ==
    canonical(u) for arbitrary URL-shaped strings — and the DuckDB
    twin must agree on the same generated corpus. Structured random
    URLs: random case, optional scheme/www/port, path segments with
    optional trailing slash, shuffled query params drawn from tracking
    + non-tracking keys, optional fragment."""
    import random

    import duckdb

    from crypto_etl_pipeline_spark.operators.urlops import (
        canonical_url,
        canonical_url_sql,
    )

    rng = random.Random(1234)
    keys = ["a", "b", "zz", "utm_source", "utm_x", "gclid", "ref", "dark"]

    def rand_url():
        scheme = rng.choice(["http", "https", "HTTP", "HTTPS", ""])
        host = rng.choice(["Example.COM", "a.io", "WWW.Site.Net", "www.x.y.z.org"])
        port = rng.choice(["", ":80", ":443", ":8080"])
        segs = "/".join(
            rng.choice(["A", "b", "c2", "%7Ex"]) for _ in range(rng.randint(0, 3))
        )
        slash = rng.choice(["", "/"])
        q = "&".join(
            f"{rng.choice(keys)}={rng.randint(0, 9)}"
            for _ in range(rng.randint(0, 4))
        )
        frag = rng.choice(["", "#f", "#a/b?c=1"])
        u = (f"{scheme}://" if scheme else "") + host + port
        if segs:
            u += "/" + segs
        u += slash
        if q:
            u += "?" + q
        u += frag
        return rng.choice(["", " "]) + u + rng.choice(["", "  "])

    raws = [rand_url() for _ in range(80)]
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(raws)], "i long, u string"
    )
    once = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    df2 = spark.createDataFrame(
        [(i, c) for i, c in once.items()], "i long, u string"
    )
    twice = {
        r["i"]: r["c"]
        for r in df2.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    assert once == twice, {
        i: (raws[i], once[i], twice[i]) for i in once if once[i] != twice[i]
    }
    con = duckdb.connect()
    for i, raw in enumerate(raws):
        want = con.execute(
            f"SELECT {canonical_url_sql('u')} FROM (SELECT ? AS u)", [raw]
        ).fetchone()[0]
        assert once[i] == want, (raw, repr(once[i]), repr(want))


@pytest.mark.quick
def test_tokenizer_ws_split_engine_parity(spark):
    """textops.tokens (Spark, explicit WS_SPLIT class) must produce
    the SAME token arrays as the oracles' RE2 '\\s+' — including on
    \\x0B, which Java's \\s contains and RE2's does not (r13 review:
    the r12 unicode fix applied to the tokenizer family). Also pins
    REGEX_TOKEN_PATTERN's negated class on the same input."""
    import duckdb

    from crypto_etl_pipeline_spark.operators.textops import (
        REGEX_TOKEN_PATTERN,
        tokens,
    )

    fixtures = [
        "plain words here",
        "a\x0bb c",          # \x0B must stay INSIDE the token
        "x\ty\nz\fw\rv",     # every real split char
        " leading and trailing  ",
        "",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(fixtures)], "i long, s string"
    )
    got = {
        r["i"]: r["t"] for r in df.select("i", tokens(F.col("s")).alias("t")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(fixtures):
        want = con.execute(
            "SELECT regexp_split_to_array(?, '\\s+')", [s]
        ).fetchone()[0]
        assert got[i] == want, (repr(s), got[i], want)
        n_spark = df.where(F.col("i") == i).select(
            F.size(F.regexp_extract_all("s", F.lit(REGEX_TOKEN_PATTERN), F.lit(0)))
        ).collect()[0][0]
        n_duck = con.execute(
            f"SELECT len(regexp_extract_all(?, '{REGEX_TOKEN_PATTERN}'))", [s]
        ).fetchone()[0]
        assert n_spark == n_duck, (repr(s), n_spark, n_duck)
