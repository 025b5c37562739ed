"""Stream-static SEMANTIC decontamination gate on ingest: every arriving
training vector is probed against the STATIC eval suite for
embedding-space near-duplicates — the paraphrase-leakage twin of the
n-gram gate (`decontaminate_ingest.py`), answered at ingest time instead
of by a full-corpus re-scan before each training run.

Per micro-batch the scoring is literally the batch operator
(`similarity.lsh_cross_hits`) run on the batch: per-vector decisions are
independent (no cross-document state), so stream ≡ batch by
construction, and the oracle is the batch pairwise replay verbatim. The
eval side is benchmark-suite-sized — its signature frame and Hamming
ball are recomputed per batch here for bit-exact symmetry with the
batch path; a production deployment would persist the exploded probe
variants once (they are eval-sized × 137 — trivially broadcastable) and
the plan shape would be unchanged. The ingest rail (streaming/util.py)
lands each scored batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def score_batch_against_eval(
    batch: DataFrame, eval_vecs: DataFrame, min_cosine: float = 0.35
) -> DataFrame:
    """(vec_id, n_hits, is_contaminated) for one micro-batch of training
    vectors: the batch operator (lsh_cross_hits — probe-side Hamming-ball
    bucket join, one cosine fold per candidate). The plane
    dimensionality is derived from ``eval_vecs``, so an empty batch
    scores to an empty frame."""
    from extract_permits_spark.functions.similarity import lsh_cross_hits

    return lsh_cross_hits(
        eval_vecs, batch.select("vec_id", "embedding"), min_cosine=min_cosine
    )
