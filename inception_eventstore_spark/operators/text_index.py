"""Persisted MinHash band index: near-dup lookup at ingest time.

``minhash_lsh_pairs`` mines pairs WITHIN one corpus; the ingest-time
question is different — "is this NEW batch of documents a near-dup of
anything ALREADY ingested?" — and answering it by re-mining the whole
corpus per batch is a full-corpus pass per ingest. This module applies
the reference's ingest-maintained-index pattern (the event store keeps
IndexByEventTypeStore current at write time so reads never rescan the
log — IndexByEventTypeStore.cs:44-61) to text dedup:

- at build/append time the corpus's shingle sets and band-bucket hashes
  are computed ONCE and persisted (8-byte keys, never raw text);
- a probe computes signatures for the new batch only, equi-joins its
  band hashes against the stored buckets (shuffle payload = 16 bytes ×
  bands per new doc), and verifies survivors with exact Jaccard over
  the stored shingle sets;
- ``append_unique`` is the dedup-at-ingest flow: probe, then index only
  the documents that matched nothing.

Cost per ingested batch at 100 TB corpus: |batch|·bands bucket rows
joined against the bucket table (hash join on 8-byte keys) + shingle
sets for the candidate ids only — the corpus text itself is never
re-read.

Layout: ``<path>/sets`` (_id, _sh), ``<path>/buckets`` (_band, _bh,
_id), ``<path>/meta`` one-line JSON sidecar; all through the Spark
parquet/text sources so the index round-trips on any Hadoop-visible
filesystem (file:/, hdfs:/, s3a:/).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inception_eventstore_spark.operators.dedup import (
    band_hashes,
    minhash_signatures,
    shingle_sets,
)


@dataclass(frozen=True)
class TextIndexMeta:
    num_hashes: int
    bands: int
    shingle_k: int
    id_col: str
    text_col: str

    @property
    def rows_per_band(self) -> int:
        return self.num_hashes // self.bands


class MinHashTextIndex:
    """MinHash band buckets + shingle sets persisted alongside a corpus."""

    def __init__(self, spark: SparkSession, path: str, meta: TextIndexMeta):
        self.spark = spark
        self.path = path.rstrip("/")
        self.meta = meta

    # -- layout
    def _sets_path(self) -> str:
        return self.path + "/sets"

    def _buckets_path(self) -> str:
        return self.path + "/buckets"

    def _meta_path(self) -> str:
        return self.path + "/meta"

    # -- derivation (shared by build/append/query: identical hash family)
    def _derive(self, docs: DataFrame,
                persist: bool = True) -> tuple[DataFrame, DataFrame]:
        """(shingle sets, band buckets) of ``docs``; with ``persist`` the
        caller must ``unpersist`` the sets once both are consumed."""
        m = self.meta
        sets = shingle_sets(docs, m.id_col, m.text_col, m.shingle_k)
        if persist:
            sets = sets.persist()
        sigs = minhash_signatures(sets, m.num_hashes, n_bases=m.rows_per_band)
        buckets = band_hashes(sigs, m.bands, m.rows_per_band)
        return sets, buckets

    # -- build / load / append
    @classmethod
    def build(
        cls,
        docs: DataFrame,
        path: str,
        num_hashes: int = 64,
        bands: int = 16,
        shingle_k: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "MinHashTextIndex":
        if num_hashes % bands != 0:
            raise ValueError(
                f"num_hashes={num_hashes} must be a multiple of bands={bands}"
            )
        meta = TextIndexMeta(num_hashes, bands, shingle_k, id_col, text_col)
        idx = cls(docs.sparkSession, path, meta)
        sets, buckets = idx._derive(docs)
        sets.write.mode("overwrite").parquet(idx._sets_path())
        buckets.write.mode("overwrite").parquet(idx._buckets_path())
        (
            docs.sparkSession.createDataFrame([(json.dumps(asdict(meta)),)],
                                              "v string")
            .coalesce(1)
            .write.mode("overwrite")
            .text(idx._meta_path())
        )
        sets.unpersist()
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "MinHashTextIndex":
        meta = TextIndexMeta(
            **json.loads(
                spark.read.text(path.rstrip("/") + "/meta").first()["value"]
            )
        )
        return cls(spark, path, meta)

    def append(self, docs: DataFrame) -> None:
        """Index a new batch with the index's recorded hash family —
        no rebuild; subsequent probes see the new documents."""
        sets, buckets = self._derive(docs)
        sets.write.mode("append").parquet(self._sets_path())
        buckets.write.mode("append").parquet(self._buckets_path())
        sets.unpersist()

    # -- probe
    def query(self, docs: DataFrame, threshold: float = 0.8) -> DataFrame:
        """Near-dup matches of a NEW batch against the indexed corpus:
        (query_id, match_id, jaccard) with jaccard ≥ threshold, computed
        exactly over the stored shingle sets of candidates only.

        The result is lazy, so nothing here is cached: a persisted
        batch would have no owner left to release it."""
        return self._probe(*self._derive(docs, persist=False), threshold)

    def _probe(self, new_sets: DataFrame, new_buckets: DataFrame,
               threshold: float) -> DataFrame:
        stored_buckets = self.spark.read.parquet(self._buckets_path())
        cand = (
            new_buckets.select("_band", "_bh", F.col("_id").alias("query_id"))
            .join(
                stored_buckets.select(
                    "_band", "_bh", F.col("_id").alias("match_id")
                ),
                ["_band", "_bh"],
            )
            .select("query_id", "match_id")
            .dropDuplicates(["query_id", "match_id"])
        )
        stored_sets = self.spark.read.parquet(self._sets_path())
        qa = new_sets.select(F.col("_id").alias("query_id"),
                             F.col("_sh").alias("sh_q"))
        ma = stored_sets.select(F.col("_id").alias("match_id"),
                                F.col("_sh").alias("sh_m"))
        inter = F.size(F.array_intersect("sh_q", "sh_m")).cast("double")
        union = (
            F.size("sh_q") + F.size("sh_m")
        ).cast("double") - F.size(F.array_intersect("sh_q", "sh_m")).cast(
            "double"
        )
        return (
            cand.join(qa, "query_id")
            .join(ma, "match_id")
            .withColumn("jaccard", inter / union)
            .where(F.col("jaccard") >= threshold)
            .select("query_id", "match_id", "jaccard")
        )

    def append_unique(self, docs: DataFrame,
                      threshold: float = 0.8) -> DataFrame:
        """Dedup-at-ingest: index only the documents that match nothing
        already indexed; returns the appended (unique) documents.

        The matched id set is materialized BEFORE the append so the
        probe cannot see the batch's own rows."""
        m = self.meta
        sets, buckets = self._derive(docs)
        try:
            dup_ids = (
                self._probe(sets, buckets, threshold)
                .select(F.col("query_id").alias(m.id_col))
                .distinct()
                .localCheckpoint(eager=True)
            )
        finally:
            sets.unpersist()
        unique = docs.join(dup_ids, m.id_col, "left_anti")
        self.append(unique)
        return unique
