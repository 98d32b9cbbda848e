"""Training-shard export: the pipeline's terminal sink.

After curation → dedup → packing, a training run wants the corpus as
N deterministic, similarly-sized shard files plus a manifest the data
loader can trust (shard → rows / token count / content digest). This
module writes exactly that from any DataFrame:

- shard assignment is EXPLICIT (`pmod(xxhash64(id), n_shards)` by
  default, or any caller expression — e.g. `epoch_shuffle` order
  ranges): reproducible, engine-independent, no dependence on Spark's
  physical partitioning;
- one `partitionBy("shard")` write → each shard is one directory whose
  files a loader streams independently (`repartition("shard")` first,
  so each shard is also ONE file when that matters);
- the manifest is computed FROM THE WRITTEN DATA (a re-read), not from
  the input plan — it certifies what landed on disk, including a
  per-shard order-insensitive content digest (xor of row xxhash64s)
  that a loader can re-verify cheaply.

At 100 TB: the export is one hash-partitioned shuffle + write; the
manifest pass is a partial-aggregated scan of the output. No driver
state beyond the #shards-row manifest itself.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from inception_eventstore_spark.sources import fsutil

__all__ = ["export_shards", "read_manifest", "verify_shards"]

_MANIFEST = "_manifest.json"


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 64,
    id_col: str = "doc_id",
    shard_expr: Column | None = None,
    token_col: str | None = None,
    one_file_per_shard: bool = True,
) -> dict:
    """Write ``df`` as ``n_shards`` shard directories + a manifest.

    Returns the manifest dict: {"n_shards", "total_rows",
    "total_tokens", "shards": {shard: {rows, tokens, digest}}}.
    ``token_col`` (optional) accumulates a per-shard token budget —
    the number a length-matched trainer schedules by.
    """
    shard = (
        shard_expr
        if shard_expr is not None
        else F.pmod(
            F.xxhash64(F.col(id_col).cast("string")), F.lit(int(n_shards))
        )
    ).cast("int")
    out = df.withColumn("shard", shard)
    if one_file_per_shard:
        out = out.repartition(int(n_shards), "shard")
    out.write.mode("overwrite").partitionBy("shard").parquet(path)

    if not fsutil.has_data(df.sparkSession, path):
        # every row was filtered upstream: an empty-shard-set manifest
        # (a valid, verifiable state) beats the obscure parquet
        # schema-inference crash a blind re-read would raise
        manifest = {
            "n_shards": int(n_shards),
            "total_rows": 0,
            **({"total_tokens": 0} if token_col is not None else {}),
            "columns": [c for c in df.columns],
            "shards": {},
        }
        fsutil.write_text(
            df.sparkSession, f"{path}/{_MANIFEST}", json.dumps(manifest)
        )
        return manifest

    # manifest from the WRITTEN data — certifies the on-disk state
    written = df.sparkSession.read.option("basePath", path).parquet(path)
    digest_cols = [c for c in written.columns if c != "shard"]
    row_hash = F.xxhash64(*digest_cols)
    aggs = [
        F.count("*").alias("rows"),
        # xor-fold: order-insensitive, loader-recomputable in any
        # engine; bit_xor is a partial-aggregated builtin (no per-shard
        # hash list ever materializes)
        F.expr("bit_xor(_rh)").alias("digest"),
    ]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("long").alias("tokens"))
    per_shard = (
        written.withColumn("_rh", row_hash)
        .groupBy("shard")
        .agg(*aggs)
        .collect()
    )
    shards = {
        int(r["shard"]): {
            "rows": int(r["rows"]),
            "digest": int(r["digest"]),
            **(
                {"tokens": int(r["tokens"] or 0)}
                if token_col is not None
                else {}
            ),
        }
        for r in per_shard
    }
    manifest = {
        "n_shards": int(n_shards),
        "total_rows": sum(s["rows"] for s in shards.values()),
        **(
            {
                "total_tokens": sum(
                    s.get("tokens", 0) for s in shards.values()
                )
            }
            if token_col is not None
            else {}
        ),
        "columns": digest_cols,
        "shards": shards,
    }
    fsutil.write_text(
        df.sparkSession, f"{path}/{_MANIFEST}", json.dumps(manifest)
    )
    return manifest


def read_manifest(spark: SparkSession, path: str) -> dict:
    raw = fsutil.read_text(spark, f"{path}/{_MANIFEST}")
    if raw is None:
        raise FileNotFoundError(f"no manifest at {path}")
    m = json.loads(raw)
    m["shards"] = {int(k): v for k, v in m["shards"].items()}
    return m


def verify_shards(spark: SparkSession, path: str) -> bool:
    """Loader-side check: recompute rows + digest per shard from disk
    and compare with the manifest. Returns True iff everything matches
    (raises on a missing manifest)."""
    m = read_manifest(spark, path)
    if not fsutil.has_data(spark, path):
        # no data on disk: matches only an empty-shard-set manifest
        return not m["shards"]
    written = spark.read.option("basePath", path).parquet(path)
    row_hash = F.xxhash64(*m["columns"])
    got = {
        int(r["shard"]): (int(r["rows"]), int(r["digest"]))
        for r in written.withColumn("_rh", row_hash)
        .groupBy("shard")
        .agg(
            F.count("*").alias("rows"),
            F.expr("bit_xor(_rh)").alias("digest"),
        )
        .collect()
    }
    want = {
        k: (v["rows"], v["digest"]) for k, v in m["shards"].items()
    }
    return got == want
