"""Training-shard delivery: shard-partitioned parquet + a validating
manifest.

The last mile of the curation pipeline: a curated corpus becomes the
artifact a training loader actually mounts -- N deterministic shards
(operators/curation.py:shuffle_shards assigns (shard, pos) from
md5(seed-id) alone), each shard a parquet partition directory whose
rows are position-ordered, plus ``manifest.json`` recording per shard
the document count, token mass, and an order-independent content
fingerprint (the md5-xor discipline of quality.table_fingerprint).

The manifest is what makes the hand-off auditable at 100 TB: the
writer builds it from the rows it just wrote, and the loader (or
:func:`read_training_shards`) recomputes the same three numbers from
the bytes it read and refuses to train on a short, corrupt, or stale
delivery. Both are one hash aggregate at scan parallelism -- one
(shard, count, sum, xor) row per shard crosses the shuffle. The input
runs once: its rows, payloads included, move in one exchange to shard
granularity, and the position window runs on that partitioning.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from automated_review_analysis_pipeline_spark.operators.curation import (
    _shard_assign,
)
from automated_review_analysis_pipeline_spark.operators.textanalysis import (
    token_count,
)

_NULL = "\x00NULL\x00"
_US = "\x1f"


def _row_hash(id_col: str, text_col: str) -> F.Column:
    """md5-prefix integer of the canonicalized (id, pos, text) row --
    identical arithmetic to quality.table_fingerprint, so the manifest
    fingerprint is reproducible on any engine with md5 + xor."""
    canon = [
        F.coalesce(F.col(id_col).cast("string"), F.lit(_NULL)),
        F.coalesce(F.col("pos").cast("string"), F.lit(_NULL)),
        F.coalesce(F.col(text_col).cast("string"), F.lit(_NULL)),
    ]
    return F.conv(
        F.substring(F.md5(F.concat_ws(_US, *canon)), 1, 12), 16, 10
    ).cast("long")


def _shard_stats(rows: DataFrame, id_col: str,
                 text_col: str) -> DataFrame:
    """(shard, n_docs, n_tokens, fingerprint) of (shard, pos, id, text)
    rows, unordered: the one aggregate behind the manifest, whether the
    rows are about to be written, were just written, or were read back.
    Pure aggregate: one row per shard leaves the map side."""
    return (
        rows.select("shard",
                    _row_hash(id_col, text_col).alias("__h"),
                    token_count(F.col(text_col)).alias("__t"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("n_tokens"),
            F.expr("bit_xor(__h)").alias("fingerprint"),
        )
    )


def shard_manifest(documents: DataFrame, n_shards: int = 8,
                   seed: str = "epoch0", id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(shard, n_docs, n_tokens, fingerprint) over the deterministic
    shuffle assignment -- computable BEFORE writing, and equal to the
    manifest.json the writer builds from the rows it wrote."""
    return _shard_stats(
        _shard_assign(documents, n_shards, seed, id_col, text_col),
        id_col, text_col).orderBy("shard")


def write_training_shards(documents: DataFrame, out_dir: str,
                          n_shards: int = 8, seed: str = "epoch0",
                          id_col: str = "doc_id",
                          text_col: str = "text") -> dict:
    """Write ``out_dir/shards/shard=K/*.parquet`` (rows position-ordered
    within each shard) and ``out_dir/manifest.json``; returns the
    manifest dict. Deterministic end-to-end: same corpus + seed ->
    identical assignment, identical manifest. ``documents`` runs once:
    the manifest aggregates the rows just written, not the input."""
    data = _shard_assign(documents, n_shards, seed, id_col, text_col)
    path = out_dir + "/shards"
    # sort by (shard, pos): the dynamic-partition writer requires an
    # ordering on the partition column -- providing it as the sort
    # prefix keeps the pos order instead of letting the writer re-sort
    # on shard alone
    (data.sortWithinPartitions("shard", "pos")
     .write.mode("overwrite").partitionBy("shard").parquet(path))
    spark = documents.sparkSession
    written = spark.read.schema(data.schema).parquet(path)
    rows = sorted(_shard_stats(written, id_col, text_col).collect(),
                  key=lambda r: r["shard"])
    from .. import fsio
    if not rows:
        # an empty corpus writes no shard directory: leave one schema-
        # bearing empty file, columns in the order a partitioned read
        # returns them, so the delivery reads back
        schema = StructType([f for f in data.schema if f.name != "shard"]
                            + [data.schema["shard"]])
        if not fsio.write_empty_parquet_fast(spark, path, schema):
            driver_frame(spark, [], schema).write.mode("overwrite") \
                .parquet(path)
    manifest = {
        "seed": seed,
        "n_shards": n_shards,
        "id_col": id_col,
        "text_col": text_col,
        "shards": [
            {"shard": r["shard"], "n_docs": r["n_docs"],
             "n_tokens": r["n_tokens"], "fingerprint": r["fingerprint"]}
            for r in rows
        ],
    }
    # sidecar LAST via the Hadoop FS API -- out_dir may be s3a://; a
    # crash before this line leaves no manifest, so read_training_shards
    # fails fast instead of validating a half-delivery
    fsio.write_text(spark, fsio.join(out_dir, "manifest.json"),
                    json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def read_training_shards(spark: SparkSession, out_dir: str,
                         validate: bool = True,
                         shards: list[int] | None = None) -> DataFrame:
    """Load a shard delivery. With ``validate`` (the default), recompute
    each shard's (n_docs, n_tokens, fingerprint) FROM THE BYTES READ and
    compare against manifest.json -- a short, corrupt, or stale delivery
    raises ValueError naming the first bad shard instead of silently
    training on it.

    ``shards`` restricts the load (and the validation) to the named
    shards -- the resuming-loader path: a worker re-mounting shard K
    must pay for shard K's bytes only, so the shard filter lands on the
    partition column BEFORE the validation aggregate and the scan prunes
    every other shard's directory (PartitionFilters in the plan; at
    100 TB the difference between re-reading the delivery and re-reading
    1/n_shards of it). Requesting a shard the manifest doesn't know
    raises; validation of the named shards is as strict as the full
    read's."""
    from .. import fsio
    manifest = fsio.read_json(spark, fsio.join(out_dir, "manifest.json"))
    df = spark.read.parquet(out_dir + "/shards")
    if shards is not None:
        requested = sorted({int(s) for s in shards})
        known = {s["shard"] for s in manifest["shards"]}
        missing = [s for s in requested if s not in known]
        if missing:
            raise ValueError(
                f"requested shards not in manifest: {missing}")
        manifest = dict(manifest, shards=[
            s for s in manifest["shards"] if s["shard"] in set(requested)])
        df = df.where(F.col("shard").isin(requested))
    if validate:
        id_col, text_col = manifest["id_col"], manifest["text_col"]
        got = {
            r["shard"]: (r["n_docs"], r["n_tokens"], r["fingerprint"])
            for r in _shard_stats(df, id_col, text_col).collect()
        }
        want = {s["shard"]: (s["n_docs"], s["n_tokens"], s["fingerprint"])
                for s in manifest["shards"]}
        for shard in sorted(want):
            if got.get(shard) != want[shard]:
                raise ValueError(
                    f"shard {shard} failed manifest validation: "
                    f"expected {want[shard]}, read {got.get(shard)}")
        if set(got) - set(want):
            raise ValueError(
                f"unmanifested shards present: {sorted(set(got) - set(want))}")
    return df
