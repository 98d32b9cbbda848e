"""Round-12 optimization invariants.

Two families:

1. The graph value-iteration loops gained a driver-side finish under a
   distinct-pair dial (VERDICT r11 #3). Both paths must agree — the
   exact-integer HITS recurrence bit-for-bit, the float PageRank/PPR
   recurrences to ~ulp (identical per-edge expressions, summation
   order differs).

2. The r11 persist-without-unpersist sites (VERDICT r11 #1) were
   converted to persist→checkpoint-result→unpersist or RDD-scoped
   localCheckpoints — after a full materialization of each operator,
   NO entry may remain in the session CacheManager (that pin is what
   made r11 warm-bench numbers cache-assisted and leaked storage in
   long-lived sessions).
"""

from __future__ import annotations

import pytest

from inception_eventstore_spark.operators import graph as G


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


EDGES = [
    (1, 2), (2, 3), (3, 1), (1, 3), (4, 3), (4, 1), (2, 1), (5, 4),
    (1, 2),  # parallel edge — weight-2 contribution
]


class TestGraphDriverFinish:
    def test_pagerank_paths_agree(self, spark):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        drv = {
            r["node"]: r["rank"]
            for r in G.pagerank(df, iterations=3).collect()
        }
        dist = {
            r["node"]: r["rank"]
            for r in G.pagerank(
                df, iterations=3, driver_finish_edges=0
            ).collect()
        }
        assert set(drv) == set(dist)
        for v in dist:
            assert drv[v] == pytest.approx(dist[v], abs=1e-12)

    def test_ppr_paths_agree(self, spark):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        drv = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(
                df, seeds=[1, 4], iterations=3
            ).collect()
        }
        dist = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(
                df, seeds=[1, 4], iterations=3, driver_finish_edges=0
            ).collect()
        }
        assert set(drv) == set(dist)
        for v in dist:
            assert drv[v] == pytest.approx(dist[v], abs=1e-12)

    def test_hits_paths_bit_identical(self, spark):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        drv = {
            r["node"]: (r["hub_u"], r["auth_u"])
            for r in G.hits_scores(df, iterations=4).collect()
        }
        dist = {
            r["node"]: (r["hub_u"], r["auth_u"])
            for r in G.hits_scores(
                df, iterations=4, driver_finish_edges=0
            ).collect()
        }
        assert drv == dist  # exact-integer recurrence: bit-identical

    def test_lpa_paths_bit_identical(self, spark):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        drv = {
            r["node"]: r["label"]
            for r in G.label_propagation(df, iterations=3).collect()
        }
        dist = {
            r["node"]: r["label"]
            for r in G.label_propagation(
                df, iterations=3, driver_finish_edges=0
            ).collect()
        }
        assert drv == dist  # exact integer recurrence

    def test_driver_path_missing_seed_raises(self, spark):
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="absent"):
            G.personalized_pagerank(df, seeds=[99])

    def test_driver_path_empty_raises(self, spark):
        df = spark.createDataFrame([], "src long, dst long")
        with pytest.raises(ValueError):
            G.pagerank(df)


class TestNoCacheManagerResidue:
    """Materialize each formerly-leaking operator fully, then assert
    the session CacheManager is empty (VERDICT r11 #1)."""

    def _docs(self, spark):
        rows = [
            (i, f"alpha beta gamma delta token{i % 7} epsilon zeta "
                f"eta theta iota kappa token{i % 5}")
            for i in range(60)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_winnow_matches_releases_cache(self, spark):
        from inception_eventstore_spark.operators.text import (
            winnow_matches,
        )

        spark.catalog.clearCache()
        winnow_matches(self._docs(spark), max_df=None).collect()
        assert _cache_empty(spark)

    def test_item_item_topk_releases_cache(self, spark):
        from inception_eventstore_spark.operators.basket import (
            item_item_topk,
        )

        spark.catalog.clearCache()
        baskets = spark.createDataFrame(
            [(b, it) for b in range(30) for it in range(b % 5 + 2)],
            "basket_id long, item_id long",
        )
        item_item_topk(baskets, min_pair_count=1).collect()
        assert _cache_empty(spark)

    def test_tfidf_weights_no_cache_entry(self, spark):
        from inception_eventstore_spark.operators.embeddings import (
            tfidf_bucket_weights,
        )

        spark.catalog.clearCache()
        tfidf_bucket_weights(self._docs(spark)).collect()
        assert _cache_empty(spark)

    def test_token_logratios_no_cache_entry(self, spark):
        from inception_eventstore_spark.operators.importance import (
            token_logratios,
        )

        spark.catalog.clearCache()
        d = self._docs(spark)
        token_logratios(d.where("doc_id < 30"), d).collect()
        assert _cache_empty(spark)

    def test_stupid_backoff_no_cache_entry(self, spark):
        from inception_eventstore_spark.operators.lm import (
            stupid_backoff_score,
        )

        spark.catalog.clearCache()
        stupid_backoff_score(self._docs(spark)).collect()
        assert _cache_empty(spark)

    def test_graph_loops_release_cache(self, spark):
        spark.catalog.clearCache()
        df = spark.createDataFrame(EDGES, "src long, dst long")
        G.pagerank(df, iterations=2, driver_finish_edges=0).collect()
        G.hits_scores(df, iterations=2, driver_finish_edges=0).collect()
        G.personalized_pagerank(
            df, seeds=[1], iterations=2, driver_finish_edges=0
        ).collect()
        assert _cache_empty(spark)

    def test_connected_components_releases_cache(self, spark):
        from inception_eventstore_spark.operators.components import (
            connected_components,
        )

        spark.catalog.clearCache()
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        connected_components(pairs).collect()
        assert _cache_empty(spark)
        # distributed path (dial=0 forces star rounds)
        connected_components(pairs, driver_finish_edges=0).collect()
        assert _cache_empty(spark)

    def test_text_index_query_and_append_unique_release_cache(
        self, spark, tmp_path
    ):
        from inception_eventstore_spark.operators.text_index import (
            MinHashTextIndex,
        )

        docs = self._docs(spark)
        idx = MinHashTextIndex.build(
            docs.where("doc_id < 30"), str(tmp_path / "tidx")
        )
        spark.catalog.clearCache()
        assert idx.query(docs.where("doc_id >= 30")).count() > 0
        assert _cache_empty(spark)
        unique = idx.append_unique(docs.where("doc_id >= 30"))
        unique.collect()
        assert _cache_empty(spark)


class TestQualityCorrelationsLocalFinish:
    def test_three_rows_single_n(self, spark):
        from inception_eventstore_spark.operators.curation import (
            quality_signal_correlations,
        )

        rows = [
            (i, ("the quick brown fox " * (i % 4 + 2))
                + ("extraordinarily " * (i % 3)))
            for i in range(40)
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        out = quality_signal_correlations(d).collect()
        assert len(out) == 3
        ns = {r["n"] for r in out}
        assert len(ns) == 1 and ns.pop() == 40
        for r in out:
            if r["corr"] is not None:
                assert -1.0 <= r["corr"] <= 1.0
