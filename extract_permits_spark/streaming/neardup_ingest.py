"""Stream-static near-dup scoring on ingest: every arriving document is
checked against a STATIC MinHash band index of the existing corpus — the
production shape of "does today's crawl contain near-copies of what we
already hold", answered at ingest time instead of by a full-corpus
re-dedup.

The static index is built ONCE (batch, one shuffle) with the exact same
md5 hash family as the batch dedup (`similarity.minhash_md5_bands`), so
the streaming decision is bit-consistent with what the nightly batch
job would conclude. Each micro-batch computes its own band signatures
(a bounded batch-local aggregation — no streaming state) and probes
the index with a semi join; at scale the index side is a
bucketed/partitioned table and the probe is a co-located join. Docs too
short to shingle (< n tokens) carry is_neardup = false. The ingest rail
(streaming/util.py) lands each scored batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def score_batch_against_index(
    batch: DataFrame, static_bands: DataFrame
) -> DataFrame:
    """(doc_id, is_neardup) for one batch of new docs: true iff the doc
    shares ≥1 LSH band bucket with the static corpus."""
    from extract_permits_spark.functions.similarity import minhash_md5_bands

    new_bands = minhash_md5_bands(batch)
    hits = (
        new_bands.join(static_bands, ["band_idx", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .distinct()
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("_hit"), F.lit(False)).alias("is_neardup")
        )
    )
