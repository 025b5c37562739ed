"""Streaming ANN-index maintenance: arriving vectors are coarse-assigned
and PQ-encoded per micro-batch and written into the persisted IVFPQ index
— the write path that keeps a serving index fresh without full rebuilds
(the streaming twin of ``pq.write_ivfpq_index``).

The index artifacts (k-means centroids + PQ codebook) are FROZEN at
ingest time — the production contract for IVF-family indexes: quantizers
are fit offline on a sample and only re-fit on drift, because re-fitting
invalidates every previously written code. Each micro-batch therefore
runs the same Arrow kernel as the batch build (one narrow map, no state,
no shuffle of vectors), clusters its codes on cluster_id, and is landed
by the ingest rail (streaming/util.py) with ``partition_by=("cluster_id",)``:
a replayed batch N rewrites exactly the (cluster_id=*, ingest_batch_id=N)
leaf directories it produced the first time, so the recovered index
never serves duplicate vec_ids, and ``cluster_id`` stays the TOP-level
partition key, so serving-side partition pruning is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def encode_batch(batch: DataFrame, kern) -> DataFrame:
    """(vec_id, cluster_id, code_arr) for one micro-batch, encoded with
    the frozen quantizers' kernel (``pq._assign_codes_arrow``)."""
    kern_col: Column = kern(F.col("embedding"))
    return (
        batch.select(F.col("vec_id"), kern_col.alias("_a"))
        .select(
            "vec_id",
            F.col("_a.cluster_id").alias("cluster_id"),
            F.col("_a.code_arr").alias("code_arr"),
        )
        # same small-files rule as the batch build: cluster the CODES so
        # each micro-batch adds one file per leaf directory, not one per
        # task x cluster
        .repartition(F.col("cluster_id"))
    )
