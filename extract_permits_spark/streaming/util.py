"""The shared micro-batch ingest rail and small streaming-query helpers.

Every stream ingest gate and sketch in this package follows one
contract: a file stream is drained in micro-batches, each batch is
scored by a plain batch function, and the result is LANDED partitioned
by ``ingest_batch_id`` with a dynamic partition overwrite. foreachBatch
is at-least-once (a failure between the data write and the checkpoint
commit replays the batch), so a replay must replace its own partition
instead of appending duplicates; with that, the stream's output equals
the batch job's and the registry oracles can be the batch SQL verbatim.
The policy lives here once — a gate or sketch module only supplies its
scorer:

- ``stage_batches`` writes frames as one parquet file each (the test
  and registry inputs: one file = one micro-batch);
- ``run_file_ingest`` drains a parquet file source through
  ``land_batch(score(batch), batch_id, ...)`` and waits for it;
- ``land_batch`` is the replay-idempotent sink itself.

``await_or_raise`` closes the silent-timeout hole:
``StreamingQuery.awaitTermination(timeout)`` returns False on timeout
(it does NOT raise), so a hung stream would let callers read a
partially-written output directory as if the ingest had finished.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from extract_permits_spark.sinks.writers import overwrite_partitions


def scratch_dir(prefix: str) -> str:
    """mkdtemp with guaranteed end-of-process cleanup.

    Registry entries stage stream inputs / checkpoints / outputs in a
    scratch dir and return a DataFrame that lazily reads from it, so an
    in-function rmtree would dangle the read. atexit cleanup is the
    latest-safe point: after the driver has collected, before the
    process exits. Results land here rather than in managed tables: a
    table named per call leaks one warehouse directory per process.
    """
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def await_or_raise(q: StreamingQuery, timeout_sec: float = 300.0) -> None:
    """Block until ``q`` terminates; raise loudly if it doesn't.

    Also surfaces the query's own exception (awaitTermination re-raises
    StreamingQueryException itself, but only when the failure happened
    before the timeout window closed).
    """
    if not q.awaitTermination(timeout_sec):
        try:
            q.stop()
        except Exception:
            pass
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not terminate within "
            f"{timeout_sec}s — refusing to read a partial output"
        )


def land_batch(
    df: DataFrame, batch_id: int, out_path: str, partition_by: Sequence[str] = ()
) -> None:
    """Land one scored micro-batch idempotently: rows carry
    ``ingest_batch_id`` as the innermost partition key and the write is
    a dynamic partition overwrite, so a replay of ``batch_id`` replaces
    exactly the leaf directories it produced the first time. An empty
    frame has no partitions and therefore replaces nothing. Path-based,
    not a managed table: a table create that crashes before the catalog
    commit strands its location."""
    overwrite_partitions(
        df.withColumn("ingest_batch_id", F.lit(int(batch_id))),
        out_path,
        [*partition_by, "ingest_batch_id"],
    )


def run_file_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    checkpoint: str,
    out_path: str,
    score: Callable[[DataFrame], DataFrame],
    partition_by: Sequence[str] = (),
) -> StreamingQuery:
    """Drain the parquet files under ``src_dir`` (availableNow) and land
    ``score(batch)`` per micro-batch at ``out_path`` (see land_batch).
    maxFilesPerTrigger=1 makes every file its own micro-batch, so the
    incremental path — not one batch-like pass — is what runs. Returns
    the terminated query (its progress records the batches)."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.foreachBatch(
            lambda b, bid: land_batch(score(b), bid, out_path, partition_by)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return q


def stage_batches(frames: Sequence[DataFrame], src_dir: str) -> None:
    """Write each frame as ONE parquet file ``f<i>.parquet`` in
    ``src_dir`` — under run_file_ingest, one micro-batch per frame.
    repartition(1), NOT coalesce(1): coalesce collapses the frame's
    whole upstream stage into one task (a payload encode measured 15.6 s
    vs 0.9 s on identical data); repartition keeps that stage parallel
    and shuffles only the finished rows to the one file. The ``_``
    prefix of the per-frame write directory hides it from the file
    source."""
    os.makedirs(src_dir, exist_ok=True)
    for i, df in enumerate(frames):
        tmp = os.path.join(src_dir, f"_f{i}")
        df.repartition(1).write.parquet(tmp)
        for fn in os.listdir(tmp):
            if fn.endswith(".parquet"):
                shutil.move(os.path.join(tmp, fn), os.path.join(src_dir, f"f{i}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)
