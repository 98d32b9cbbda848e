"""Persisted MinHash text index (operators/text_index.py)."""

from __future__ import annotations

import gc
import hashlib
import threading

import pytest
from pyspark.sql import functions as F

from inception_eventstore_spark.operators import text_index
from inception_eventstore_spark.operators.dedup import (
    band_hashes,
    minhash_signatures,
    shingle_sets,
)
from inception_eventstore_spark.operators.text_index import MinHashTextIndex

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the old barn"),
    (2, "a completely different document about distributed query engines"),
    (3, "spark catalyst optimizes logical plans into physical plans fast"),
    (4, "yet another unrelated text concerning maritime navigation charts"),
]


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def _idx(spark, corpus, tmp_path):
    return MinHashTextIndex.build(corpus, str(tmp_path / "tidx"))


class TestMinHashTextIndex:
    def test_query_finds_near_dup_only(self, spark, corpus, tmp_path):
        idx = _idx(spark, corpus, tmp_path)
        batch = spark.createDataFrame(
            [
                # near-dup of doc 1 (one word changed)
                (100, "the quick brown fox jumps over the lazy cat near "
                      "the old barn"),
                (101, "entirely novel content about glacier formation"),
            ],
            "doc_id long, text string",
        )
        got = idx.query(batch, threshold=0.5).collect()
        assert {(r["query_id"], r["match_id"]) for r in got} == {(100, 1)}
        assert all(0.5 <= r["jaccard"] <= 1.0 for r in got)

    def test_load_round_trip(self, spark, corpus, tmp_path):
        _idx(spark, corpus, tmp_path)
        idx = MinHashTextIndex.load(spark, str(tmp_path / "tidx"))
        assert idx.meta.num_hashes == 64 and idx.meta.bands == 16
        exact_copy = spark.createDataFrame(
            [(200, CORPUS[2][1])], "doc_id long, text string"
        )
        got = idx.query(exact_copy, threshold=0.9).collect()
        assert [(r["query_id"], r["match_id"], r["jaccard"]) for r in got] == [
            (200, 3, 1.0)
        ]

    def test_append_visible_to_probes(self, spark, corpus, tmp_path):
        idx = _idx(spark, corpus, tmp_path)
        idx.append(
            spark.createDataFrame(
                [(5, "brand new fifth document joins the corpus today ok")],
                "doc_id long, text string",
            )
        )
        probe = spark.createDataFrame(
            [(300, "brand new fifth document joins the corpus today ok")],
            "doc_id long, text string",
        )
        got = idx.query(probe, threshold=0.9).collect()
        assert {(r["query_id"], r["match_id"]) for r in got} == {(300, 5)}

    def test_append_unique_skips_dups(self, spark, corpus, tmp_path):
        idx = _idx(spark, corpus, tmp_path)
        batch = spark.createDataFrame(
            [
                (400, CORPUS[0][1]),  # exact dup of doc 1 → skipped
                (401, "fresh unseen prose regarding volcanic island chains"),
            ],
            "doc_id long, text string",
        )
        kept = idx.append_unique(batch, threshold=0.8)
        assert [r["doc_id"] for r in kept.collect()] == [401]
        # the skipped dup was NOT indexed; the fresh doc was
        again = idx.query(
            spark.createDataFrame(
                [(500, "fresh unseen prose regarding volcanic island chains")],
                "doc_id long, text string",
            ),
            threshold=0.9,
        ).collect()
        assert {r["match_id"] for r in again} == {401}
        stored = spark.read.parquet(str(tmp_path / "tidx" / "sets"))
        assert stored.where(F.col("_id") == 400).count() == 0

    def test_bad_banding_rejected(self, spark, corpus, tmp_path):
        with pytest.raises(ValueError):
            MinHashTextIndex.build(
                corpus, str(tmp_path / "bad"), num_hashes=64, bands=15
            )


#: Edge cases of the tokenizer and shingler: empty, whitespace-only and
#: NULL text, every non-space separator, fewer than k tokens, upper case
#: and non-ASCII text.
HASH_DOCS = [
    (1, ""),
    (2, " \t\n  "),
    (3, None),
    (4, "alpha\tbeta\ngamma\x0bdelta\fepsilon\rzeta  eta"),
    (5, "two words"),
    (6, "single"),
    (7, "Upper CASE Text with Ünïcödé résumé naïve café 東京 タワー Straße"),
    (8, "the quick brown fox jumps over the lazy dog near the old barn"),
    (9, "the quick brown fox jumps over the lazy cat near the old barn"),
    (10, "UPPER case TEXT WITH ünïcödé RÉSUMÉ naïve café 東京 タワー straße"),
    (11, "a b a b a b a b"),
]


def _digest(lines) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


class TestHashFamilyGolden:
    """The shingle, signature and band hashes are persisted by
    MinHashTextIndex, so they must never change: an index written by an
    earlier build has to collide with probes derived by this one. The
    digests were captured from the per-call Column-API builders."""

    def test_shingle_signature_band_digests(self, spark):
        docs = spark.createDataFrame(HASH_DOCS, "doc_id long, text string")
        sets = shingle_sets(docs)
        sigs = minhash_signatures(sets, 64, n_bases=4)
        bands = band_hashes(sigs, 16, 4)
        set_rows = sets.collect()
        # empty, whitespace-only and NULL text have no shingles
        assert sorted(r["_id"] for r in set_rows) == [4, 5, 6, 7, 8, 9, 10, 11]
        assert _digest(f"{r['_id']}:{sorted(r['_sh'])}" for r in set_rows) == (
            "98d85062ffde687d8c84f31421a40ed39c73c816f2a7c27af393c8a895e0510d"
        )
        assert _digest(
            f"{r['_id']}:{list(r['_sig'])}" for r in sigs.collect()
        ) == "88e8bb9ed03044938e2384f866fb79d3c11537b40d461ae604770a0d8eb658c2"
        assert _digest(
            f"{r['_id']}:{r['_band']}:{r['_bh']}" for r in bands.collect()
        ) == "ecce5b0a34e5f2a7757ab188adc3bbc99e8a90020dc6334bf3ce7ef1629a1bf8"


def _count_commands(spark, build) -> int:
    """py4j commands this thread sends while ``build()`` runs (other
    threads' object releases are not the build's round trips)."""
    client = spark.sparkContext._gateway._gateway_client
    caller = threading.current_thread()
    sent = [0]
    original = client.send_command

    def counting(*args, **kwargs):
        sent[0] += threading.current_thread() is caller
        return original(*args, **kwargs)

    gc.collect()  # no finalizer detaches inside the window
    gc.disable()
    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = original
        gc.enable()
    return sent[0]


class TestDriverCost:
    def test_family_build_round_trip_budget(self, spark):
        """Building the whole family, with no action, costs a bounded
        number of py4j round trips (a per-hash Column build sent ~5,500)."""
        docs = spark.createDataFrame(HASH_DOCS, "doc_id long, text string")

        def build():
            band_hashes(minhash_signatures(shingle_sets(docs), 64, n_bases=4),
                        16, 4)

        build()  # first use resolves JVM classes
        assert _count_commands(spark, build) <= 100

    def test_append_unique_derives_batch_once(self, spark, corpus, tmp_path,
                                              monkeypatch):
        idx = _idx(spark, corpus, tmp_path)
        calls = []

        def counting(*args, **kwargs):
            calls.append(1)
            return shingle_sets(*args, **kwargs)

        monkeypatch.setattr(text_index, "shingle_sets", counting)
        batch = spark.createDataFrame(
            [(600, CORPUS[1][1]), (601, "novel words about tidal energy")],
            "doc_id long, text string",
        )
        kept = idx.append_unique(batch)
        assert [r["doc_id"] for r in kept.collect()] == [601]
        assert len(calls) == 1

    def test_appended_rows_equal_build_of_kept_docs(self, spark, corpus,
                                                    tmp_path):
        idx = _idx(spark, corpus, tmp_path)
        batch = spark.createDataFrame(
            [
                (700, CORPUS[0][1]),  # exact dup: not indexed
                (701, CORPUS[2][1].replace("fast", "quickly")),  # near dup
                (702, "an original sentence on desert botany and cacti"),
                (703, "yet another original line about orbital debris"),
            ],
            "doc_id long, text string",
        )
        kept = idx.append_unique(batch, threshold=0.5)
        kept_ids = sorted(r["doc_id"] for r in kept.collect())
        assert kept_ids == [702, 703]
        ref = str(tmp_path / "ref")
        MinHashTextIndex.build(batch.where(F.col("doc_id").isin(kept_ids)), ref)

        def rows(path, table):
            df = spark.read.parquet(f"{path}/{table}").where(
                F.col("_id") >= 700)
            return sorted(tuple(r) for r in df.collect())

        for table in ("sets", "buckets"):
            assert rows(str(tmp_path / "tidx"), table) == rows(ref, table)
