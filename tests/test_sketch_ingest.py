"""Replay semantics of the three streaming sketch ingests — the unit
pin behind the merge-semantics triptych the registry gates claim:

- HLL (max-merge)   : idempotent — replays AND duplicate appends no-op;
- KMV (bottom-k)    : idempotent — same double protection;
- CM  (sum-merge)   : NOT idempotent — the partition-overwrite sink is
  the ONLY thing standing between a replayed batch and double counts,
  and this test shows the corruption a raw duplicate append WOULD cause.

The registry entries (stream_hll_distinct / stream_kmv_overlap /
stream_cm_heavy_hitters) prove stream ≡ batch end-to-end against the
batch SQL; these tests isolate the sink-level contract those gates rely
on, without a streaming query in the loop (``land_batch(scorer(batch),
batch_id, out)`` is the exact foreachBatch body of the ingest rail).
"""

from __future__ import annotations

import pytest

from extract_permits_spark.streaming.util import land_batch


def _docs(spark):
    rows = [
        (i, f"src{i % 3}", " ".join(f"tok{(i * 7 + j) % 11}" for j in range(12)))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _snap(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def halves(spark):
    d = _docs(spark)
    from pyspark.sql import functions as F

    return (
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
    )


def test_hll_ingest_replay_and_duplicate_append_are_noops(spark, halves, tmp_path):
    from extract_permits_spark.streaming.hll_ingest import (
        batch_registers,
        merged_registers,
    )

    out = str(tmp_path / "hll")
    land_batch(batch_registers(halves[0]), 0, out)
    land_batch(batch_registers(halves[1]), 1, out)
    base = _snap(merged_registers(spark, out))
    # sink-level replay (same batch id): dynamic overwrite replaces
    land_batch(batch_registers(halves[1]), 1, out)
    assert _snap(merged_registers(spark, out)) == base
    # duplicate APPEND (same data under a fresh batch id): max-merge
    # idempotence protects the estimate even without the sink contract
    land_batch(batch_registers(halves[1]), 2, out)
    assert _snap(merged_registers(spark, out)) == base


def test_kmv_ingest_replay_and_duplicate_append_are_noops(spark, halves, tmp_path):
    from extract_permits_spark.streaming.kmv_ingest import (
        batch_bottomk,
        merged_bottomk,
    )

    out = str(tmp_path / "kmv")
    land_batch(batch_bottomk(halves[0]), 0, out)
    land_batch(batch_bottomk(halves[1]), 1, out)
    base = _snap(merged_bottomk(spark, out))
    land_batch(batch_bottomk(halves[1]), 1, out)
    assert _snap(merged_bottomk(spark, out)) == base
    # bottom-k-of-union is min-like: re-observing hashes changes nothing
    land_batch(batch_bottomk(halves[1]), 2, out)
    assert _snap(merged_bottomk(spark, out)) == base


def test_kmv_merge_of_splits_equals_whole_corpus_sketch(spark, halves, tmp_path):
    """The stream ≡ batch argument itself: bottom-k of the union of
    per-batch bottom-k sets EQUALS the bottom-k of the full corpus."""
    from extract_permits_spark.streaming.kmv_ingest import (
        batch_bottomk,
        merged_bottomk,
    )

    out = str(tmp_path / "kmv2")
    land_batch(batch_bottomk(halves[0]), 0, out)
    land_batch(batch_bottomk(halves[1]), 1, out)
    merged = _snap(merged_bottomk(spark, out))
    from pyspark.sql import functions as F

    whole = _snap(
        batch_bottomk(_docs(spark))
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("hv")).alias("mh"))
    )
    assert merged == whole


def test_cm_ingest_overwrite_protects_but_duplicate_append_corrupts(
    spark, halves, tmp_path
):
    """Sum-merge is NOT idempotent: the overwrite sink absorbs a replayed
    batch id, but the same rows appended under a fresh batch id DOUBLE
    the affected counters — the exact corruption the registry gate's
    docstring calls load-bearing."""
    from pyspark.sql import functions as F

    from extract_permits_spark.streaming.cm_ingest import (
        batch_sketch,
        merged_sketch,
    )

    out = str(tmp_path / "cm")
    land_batch(batch_sketch(halves[0]), 0, out)
    land_batch(batch_sketch(halves[1]), 1, out)
    base = _snap(merged_sketch(spark, out))
    base_total = sum(r[2] for r in base)
    # replay with the SAME id: partition replaced, sketch unchanged
    land_batch(batch_sketch(halves[1]), 1, out)
    assert _snap(merged_sketch(spark, out)) == base
    # duplicate append under a NEW id: counts move — prove it, then
    # quantify it (half 1's contribution counted twice)
    land_batch(batch_sketch(halves[1]), 2, out)
    corrupted = _snap(merged_sketch(spark, out))
    assert corrupted != base
    from extract_permits_spark.functions.similarity import tokens

    half1_tokens = int(
        halves[1]
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .count()
    )
    # each token feeds d=4 counter rows (one per hash row i)
    assert sum(r[2] for r in corrupted) == base_total + 4 * half1_tokens
