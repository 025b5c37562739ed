"""Streaming HyperLogLog ingest: a running distinct-document estimate
maintained per micro-batch — the cardinality dashboard a crawl ingest
keeps without ever re-scanning the corpus.

Each micro-batch computes ITS OWN 256-register sketch (one bounded
groupBy — no streaming state store), landed by the ingest rail
(streaming/util.py); the current corpus estimate is one
``groupBy(reg).max(r)`` over all landed batch partitions. Two structural
properties make this the textbook streaming sketch:

- stream ≡ batch BY CONSTRUCTION: max-merge is associative and
  commutative, so the union of per-batch registers equals the registers
  of the full corpus — the registry entry's oracle is literally the
  batch HLL SQL (docs_hll_distinct's), value-for-value;
- replay-idempotent TWICE over: the rail's dynamic partition overwrite
  replaces a replayed batch's own partition,
  and even a hypothetical duplicate append could not corrupt the result
  because max is idempotent — re-observing a document cannot raise a
  register.

At scale: per-batch state is ≤256 rows regardless of batch size; the
merge read is ≤256·batches tiny rows. Nothing here ever holds
per-document state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def batch_registers(batch: DataFrame) -> DataFrame:
    """(reg, r) max-rank registers of ONE micro-batch — the exact
    construction the batch entry uses (functions.text.hll_register_rank),
    so per-batch sketches max-merge into the full-corpus sketch."""
    from extract_permits_spark.functions.text import hll_register_rank

    reg, rank = hll_register_rank(F.col("text"))
    return (
        batch.select(reg.alias("reg"), rank.alias("r"))
        .groupBy("reg")
        .agg(F.max("r").alias("r"))
    )


def merged_registers(spark: SparkSession, out_path: str) -> DataFrame:
    """The corpus sketch so far: max-merge every landed batch sketch and
    densify to all 256 registers (absent register = 0)."""
    landed = (
        spark.read.parquet(out_path)
        .groupBy("reg")
        .agg(F.max("r").alias("r"))
    )
    all_regs = spark.range(256).select(F.col("id").cast("int").alias("reg"))
    return all_regs.join(landed, "reg", "left").select(
        "reg", F.coalesce(F.col("r"), F.lit(0)).alias("m")
    )
