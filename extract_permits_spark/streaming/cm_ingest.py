"""Streaming Count-Min ingest: running token-frequency sketch maintained
per micro-batch — the heavy-hitter monitor a crawl ingest keeps without
a vocabulary-sized state store.

Each micro-batch lands ITS OWN (row, bucket) count table (≤ d·w = 1024
rows) through the ingest rail (streaming/util.py); the corpus sketch is
the SUM over landed batch sketches. The deliberate contrast with the HLL gate
(hll_ingest.py): sum-merge is associative and commutative but NOT
idempotent — a replayed batch that simply appended would double-count —
so here the idempotent dynamic-partition-overwrite sink is load-bearing
for correctness, not just hygiene. Both gates prove stream ≡ batch
against the batch sketch SQL verbatim; this one exercises the
replay contract, that one holds even without it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def cm_bucket(i_col, word_col):
    """The d=4 × w=256 salted bucket of (row i, word) — md5 of
    'i|word', first 8 bits; identical in the batch entry and the DuckDB
    oracle."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(i_col.cast("string"), F.lit("|"), word_col).cast(
                    "binary"
                )
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("int")


def batch_sketch(batch: DataFrame) -> DataFrame:
    """(i, bucket, c) counts of ONE micro-batch's token stream — exact
    integers, ≤1024 rows whatever the batch size."""
    from extract_permits_spark.functions.similarity import tokens

    tok = batch.select(F.explode(tokens(F.col("text"))).alias("word")).where(
        F.col("word") != ""
    )
    rows_arr = F.array(*[F.lit(i) for i in range(4)])
    salted = tok.select("word", F.explode(rows_arr).alias("i")).select(
        "i", cm_bucket(F.col("i"), F.col("word")).alias("bucket")
    )
    return salted.groupBy("i", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def merged_sketch(spark: SparkSession, out_path: str) -> DataFrame:
    """The corpus sketch so far: element-wise sum of landed batch
    sketches."""
    return (
        spark.read.parquet(out_path)
        .groupBy("i", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
