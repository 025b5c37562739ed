"""Stream-static image near-dup on ingest: every arriving image payload
is decoded, dHashed, and checked against a STATIC perceptual-hash band
index of the existing corpus — "does today's scrape contain near-copies
of images we already hold", answered at ingest time instead of by a
full-corpus re-dedup. The multimodal twin of neardup_ingest.py.

The static index is built ONCE (batch: decode -> phash64 ->
hamming_band_rows, one narrow pass + one explode) with the exact hash
the batch pair join uses, so the streaming decision is bit-consistent
with what the nightly batch dedup would conclude. Each micro-batch
decodes its own payloads, probes the index by the (band, value)
equi-join, and VERIFIES candidates by full Hamming distance (band
agreement alone is an 8-bit signal; the radius-7 verify is the actual
contract — pigeonhole-complete, so no true pair is missed). The ingest
rail (streaming/util.py) lands each scored batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_MAX_HAMMING = 7


def score_batch_against_index(
    batch: DataFrame, static_bands: DataFrame
) -> DataFrame:
    """(media_id, is_neardup) for one batch of arriving images: true iff
    some static image lies within Hamming radius 7 of the new image's
    dHash (candidates from the band equi-join, verified exactly)."""
    from extract_permits_spark.functions.multimodal import (
        hamming_band_rows,
        phash64,
    )

    new_bands = hamming_band_rows(phash64(batch)).select(
        F.col("media_id").alias("_nid"),
        F.col("hi").alias("_nhi"),
        F.col("lo").alias("_nlo"),
        "t",
        "v",
    )
    hamming = (
        F.bit_count(F.col("_nhi").bitwiseXOR(F.col("hi")))
        + F.bit_count(F.col("_nlo").bitwiseXOR(F.col("lo")))
    )
    hits = (
        new_bands.join(static_bands, ["t", "v"])
        .where(hamming <= _MAX_HAMMING)
        .select(F.col("_nid").alias("media_id"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        batch.select("media_id")
        .distinct()
        .join(hits, "media_id", "left")
        .select(
            "media_id",
            F.coalesce(F.col("_hit"), F.lit(False)).alias("is_neardup"),
        )
    )
