"""Stream-static decontamination gate on ingest: every arriving training
document is checked against a STATIC benchmark n-gram index — the
production shape of "does today's crawl leak the eval suite", answered at
ingest time instead of by a full-corpus re-scan before each training run.

The eval n-gram set is built ONCE (batch, one distinct) with the exact
tokenize/n-gram contract the batch decontamination uses
(`functions/corpus.py:decontaminate`), so the per-micro-batch decision is
bit-consistent with what the nightly batch job would conclude. Each
micro-batch explodes its own n-grams and probes the index with a
broadcast join; per-document hit counts are batch-local (a document
arrives whole in one file), so no streaming state is needed. At scale the
eval index is benchmark-suite-sized — always broadcastable. The ingest
rail (streaming/util.py) lands each scored batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _grams(df: DataFrame, n: int) -> DataFrame:
    # thin alias over THE batch gram builder — batch ≡ stream by import,
    # not by copy (r9 review finding)
    from extract_permits_spark.functions.corpus import doc_ngrams

    return doc_ngrams(df, "doc_id", "text", n)


def score_batch_against_eval_grams(
    batch: DataFrame, eval_grams: DataFrame
) -> DataFrame:
    """(doc_id, n_hits, is_contaminated) for one batch of training docs —
    literally the batch probe+epilogue (corpus.contamination_hits) run
    per micro-batch, so the output contract cannot drift."""
    from extract_permits_spark.functions.corpus import contamination_hits

    out = contamination_hits(batch, eval_grams, "doc_id", "text", n=5)
    return out.select(
        "doc_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        "is_contaminated",
    )
