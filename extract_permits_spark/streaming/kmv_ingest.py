"""Streaming KMV (bottom-k) ingest: per-source minimum-hash sketches
maintained per micro-batch — the cross-source overlap dashboard a crawl
ingest keeps without ever re-scanning the corpus (companion to
hll_ingest.py / cm_ingest.py; the third merge semantics of the sketch
triptych).

Each micro-batch computes ITS OWN per-source bottom-64 sketch (one
WindowGroupLimit — no streaming state store), landed by the ingest rail
(streaming/util.py); the current corpus sketch
is the bottom-64 of the UNION of all landed rows. Two structural
properties make this stream ≡ batch:

- bottom-k merge is associative, commutative AND idempotent: every one
  of the full corpus's k smallest hashes is, in particular, among the k
  smallest of its own batch's subset, so it survives into that batch's
  landed sketch and the k smallest of the landed union are EXACTLY the
  k smallest of the corpus — the registry entry's oracle is literally
  the batch KMV SQL (docs_kmv_source_overlap's), value-for-value;
- replay-idempotent twice over (the HLL class, not the CM class): the
  rail's dynamic partition overwrite replaces a replayed batch's partition,
  and even a hypothetical duplicate append could not change the merged
  bottom-k (min-like — re-observing a hash cannot lower anything).

At scale: per-batch state is ≤ 64·|sources| rows regardless of batch
size; the merge read is ≤ 64·|sources|·batches tiny rows. Nothing here
holds per-document state. The per-source bottom-k inside each batch is
a rank-≤-k filter under a per-source window — Spark plans it as
WindowGroupLimit, so each map task keeps only k rows per source before
the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


K = 64


def _bottomk(dedup: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("source").orderBy("hv")
    return (
        dedup.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("source", "hv")
    )


def batch_bottomk(batch: DataFrame, k: int = K) -> DataFrame:
    """(source, hv) bottom-k sketch of ONE micro-batch — the exact
    shingle/hash construction the batch entry uses
    (docs_kmv_source_overlap: 3-gram shingles, first 15 hex chars of
    md5 as a 60-bit integer), so per-batch sketches bottom-k-merge into
    the full-corpus sketch."""
    from extract_permits_spark.functions.similarity import word_shingles

    sh = batch.select(
        "source", F.explode(word_shingles(F.col("text"))).alias("g")
    )
    hv = F.conv(
        F.substring(F.md5(F.col("g").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    return _bottomk(sh.select("source", hv.alias("hv")).distinct(), k)


def merged_bottomk(spark: SparkSession, out_path: str, k: int = K) -> DataFrame:
    """The corpus sketch so far: bottom-k of the union of every landed
    batch sketch, as (source, mh sorted-array) — identical to the batch
    entry's `mins` frame by the merge argument in the module docstring."""
    landed = spark.read.parquet(out_path).select("source", "hv").distinct()
    return (
        _bottomk(landed, k)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("hv")).alias("mh"))
    )
