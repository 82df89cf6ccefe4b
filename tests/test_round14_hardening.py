"""Round-14 hardening tests (VERDICT r13 #5/#6/#10, ADVICE r13 items).

Small-robustness pins for the round-14 optimization pass: degenerate-
input guards and memo-invalidation behavior must not regress, and the
footer-count/load_table coupling the report queries rely on must stay
exact.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

SF_SMALL = "/root/testdata/sf0.001"


class TestGroupedQuantileEmptyEvents:
    """quantile_grouped_exact_histogram: empty/degenerate events must
    return the empty-shaped result, not raise on `where(None)`."""

    def test_empty_events_returns_empty_shape(self, spark, tmp_path, monkeypatch):
        # Build a degenerate sf dir: events with zero rows (schema from
        # the real table), other tables symlinked from the small SF.
        d = tmp_path / "sfempty"
        d.mkdir()
        for t in os.listdir(SF_SMALL):
            os.symlink(os.path.join(SF_SMALL, t), d / t)
        ev = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
        empty = ev.where(F.lit(False))
        os.unlink(d / "events.parquet")
        empty.write.parquet(str(d / "events.parquet"))

        from crypto_etl_pipeline_spark.queries.selection import (
            quantile_grouped_exact_histogram,
        )

        out = quantile_grouped_exact_histogram(spark, str(d))
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "event_type",
            "p",
            "n_rows",
            "rank_k",
            "value_cents",
            "value",
        ]


class TestRowCountMemo:
    """table_row_count: footer count == load_table().count() (the
    coupling contract), and the memo invalidates on file mtime."""

    def test_footer_equals_load_table(self, spark):
        from crypto_etl_pipeline_spark.sources.tables import (
            TABLES,
            load_table,
            table_row_count,
        )

        for t in TABLES:
            assert table_row_count(SF_SMALL, t) == load_table(
                spark, SF_SMALL, t
            ).count(), f"footer/load_table drift on {t}"

    def test_memo_invalidates_on_mtime(self, spark, tmp_path):
        from crypto_etl_pipeline_spark.sources.tables import table_row_count

        d = tmp_path / "sfm"
        d.mkdir()
        ev = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
        p = str(d / "events.parquet")
        ev.limit(10).write.parquet(p)
        assert table_row_count(str(d), "events") == 10
        ev.limit(7).write.mode("overwrite").parquet(p)
        # force a distinct mtime_ns even on coarse filesystems
        st = os.stat(p)
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        assert table_row_count(str(d), "events") == 7


class TestLrFeatureDistinctness:
    """ADVICE r13 #4: the r13 merged gradient (g folded into the (i,i)
    Hessian pair rows) is exact ONLY under the binary-presence
    contract — (doc_id, feat) rows distinct. Pin the contract at the
    feature builder so duplicates can never silently inflate g."""

    def test_hashed_presence_rows_distinct(self, spark):
        from crypto_etl_pipeline_spark.operators.lrmodel import (
            hashed_presence_features,
        )
        from crypto_etl_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, SF_SMALL, "documents")
        feats = hashed_presence_features(docs, dim=64)
        assert feats.count() == feats.select("doc_id", "feat").distinct().count()


class TestContractEdgesNullEndpoints:
    """_contract_edges: null endpoints behave as join misses (the
    pre-r13 loop contract), never a TypeError in the Arrow task."""

    def test_null_endpoints_are_non_edges(self, spark):
        from crypto_etl_pipeline_spark.operators.cluster import (
            connected_components,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, None), (None, 3), (None, None), (4, 5)],
            "src long, dst long",
        )
        nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
        got = sorted(
            (r["id"], r["component"])
            for r in connected_components(nodes, edges, "id", "src", "dst").collect()
        )
        # (1,2) and (4,5) merge; 3 stays a singleton (its only edge had
        # a null endpoint, i.e. a join miss in the old loop).
        assert got == [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4)]

    def test_null_endpoint_keeps_int64_ids_exact(self, spark):
        """A null in an Arrow batch would widen the batch's int64 ids
        to float64; ids above 2^53 must come back exact."""
        from crypto_etl_pipeline_spark.operators.cluster import _contract_edges

        big = 2**53
        edges = spark.createDataFrame(
            [(big + 3, big + 1), (big + 5, None), (big + 7, big + 3)],
            "src long, dst long",
        ).coalesce(1)
        got = sorted(tuple(r) for r in _contract_edges(edges, "src", "dst").collect())
        assert got == [(big + 3, big + 1), (big + 7, big + 1)]
