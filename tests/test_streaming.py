"""Structured Streaming: availableNow drain must equal the batch aggregate
(SURVEY.md §2.11 — streaming is engine-native incremental processing)."""

from __future__ import annotations

import tempfile

from extract_permits_spark.streaming import events as ev


def test_streaming_matches_batch(spark):
    sf_dir = "/root/testdata/sf0.001"
    from extract_permits_spark.sources.readers import load_events

    batch = load_events(spark, sf_dir)
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ev.tumbling_counts(batch).collect()
    }
    assert expected  # non-empty fixture

    with tempfile.TemporaryDirectory() as work:
        import os
        import shutil

        src_dir = os.path.join(work, "in")
        ckpt = os.path.join(work, "ckpt")
        os.makedirs(src_dir)
        shutil.copy(f"{sf_dir}/events.parquet", src_dir)
        q = ev.run_available_now(spark, src_dir, ckpt, table_name="ev_test_out")
        q.awaitTermination(120)
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM ev_test_out").collect()
        }
    assert got == expected


def test_watermark_drops_late_data_across_runs(spark):
    """Append-mode tumbling agg over two availableNow runs: a row arriving
    after the watermark passed its window must NOT alter the already-
    finalized window (the engine-native replacement for the reference's
    'mutually-exclusive date ranges by convention')."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from extract_permits_spark.streaming.events import (
        read_events_stream,
        tumbling_counts,
    )

    base_ns = 1704067200 * 10**9  # 2024-01-01 00:00:00 UTC
    H = 3600 * 10**9

    def mk_events(rows):
        return spark.createDataFrame(
            [
                (i, base_ns + int(off * H), 1, "a", 1.0, "{}")
                for i, off in enumerate(rows)
            ],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )

    with tempfile.TemporaryDirectory() as work:
        src = os.path.join(work, "in")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        def run():
            agg = tumbling_counts(
                read_events_stream(spark, src),
                window_len="1 hour",
                watermark="30 minutes",
            )
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        # batch 1: three rows in hour-0, one in hour-1, one at 02:30 —
        # watermark advances to 02:00, so windows 00 and 01 finalize
        mk_events([0.0, 0.25, 0.5, 1.25, 2.5]).write.mode("append").parquet(src)
        run()
        first = {
            r["window_start"]: r["n_events"]
            for r in spark.read.parquet(out).collect()
        }
        assert first.get("2024-01-01 00:00:00") == 3
        assert first.get("2024-01-01 01:00:00") == 1

        # batch 2: a LATE row for hour-0 (beyond watermark) + a fresh row
        # at 03:30 that pushes the watermark past hour-2
        mk_events([0.75, 3.5]).write.mode("append").parquet(src)
        run()
        final = spark.read.parquet(out).groupBy("window_start").agg(
            F.sum("n_events").alias("n")
        )
        got = {r["window_start"]: r["n"] for r in final.collect()}
        assert got["2024-01-01 00:00:00"] == 3  # late row dropped
        assert got["2024-01-01 02:00:00"] == 1  # newly finalized window


def test_stream_dedup_exactly_once_across_restart(spark):
    """Exactly-once over at-least-once delivery AND a restart: run 1 sees
    the events file once; run 2 (same checkpoint) sees a redelivered copy.
    The dedup state must survive the restart, so final counts equal the
    batch COUNT(DISTINCT event_id) — not double it."""
    import os
    import shutil
    import tempfile

    sf_dir = "/root/testdata/sf0.001"
    from pyspark.sql import functions as F

    from extract_permits_spark.sources.readers import load_events

    batch = load_events(spark, sf_dir)
    expected = {
        (r["event_type"], r["n_events"])
        for r in batch.groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n_events"))
        .collect()
    }

    with tempfile.TemporaryDirectory() as work:
        src_dir = os.path.join(work, "in")
        ckpt = os.path.join(work, "ckpt")
        os.makedirs(src_dir)
        shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "a.parquet"))
        q = ev.run_dedup_available_now(spark, src_dir, ckpt, table_name="ev_dedup_t1")
        q.awaitTermination(120)
        # redelivery arrives while the job is down
        shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "b.parquet"))
        q = ev.run_dedup_available_now(spark, src_dir, ckpt, table_name="ev_dedup_t2")
        q.awaitTermination(120)
        got = {
            (r["event_type"], r["n_events"])
            for r in spark.sql("SELECT * FROM ev_dedup_t2").collect()
        }
    assert got == expected


def test_streaming_sessions_match_batch(spark):
    """Session windows through the streaming engine (availableNow) must
    equal the batch session_window aggregation on the same input."""
    sf_dir = "/root/testdata/sf0.001"
    from pyspark.sql import functions as F

    from extract_permits_spark.sources.readers import load_events

    batch = load_events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    expected = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in ev.session_counts(batch).collect()
    }
    assert expected

    with tempfile.TemporaryDirectory() as work:
        import os
        import shutil

        src_dir = os.path.join(work, "in")
        os.makedirs(src_dir)
        shutil.copy(f"{sf_dir}/events.parquet", src_dir)
        q = ev.run_sessions_available_now(
            spark, src_dir, os.path.join(work, "ckpt"), table_name="ev_test_sessions"
        )
        q.awaitTermination(120)
        got = {
            (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM ev_test_sessions").collect()
        }
    assert got == expected


def test_session_window_gap_boundary(spark):
    """Spark merges sessions that overlap OR touch: a gap of exactly the
    session gap still merges; only a strictly larger gap starts a new
    session — the semantics the gaps-and-islands oracle mirrors with >."""
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00", 10, "a", 1.0, "{}"),
        (2, "2024-01-01 00:29:59", 10, "a", 1.0, "{}"),  # < gap: same session
        (3, "2024-01-01 00:59:59", 10, "a", 1.0, "{}"),  # < gap from prev: same
        (4, "2024-01-01 01:29:59", 10, "a", 1.0, "{}"),  # exactly 30m: MERGES
        (5, "2024-01-01 02:00:00", 10, "a", 1.0, "{}"),  # 30m 1s: NEW
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).withColumn("ts", F.to_timestamp("ts"))
    got = sorted(
        (r["session_start"], r["n_events"]) for r in ev.session_counts(df).collect()
    )
    assert got == [("2024-01-01 00:00:00", 4), ("2024-01-01 02:00:00", 1)]


def test_stream_stream_join_matches_batch(spark):
    """Stream-stream interval join (clicks before purchases) must emit
    exactly the batch range-join's pair set — each pair once (append
    mode), state evicted by the watermark + join bound."""
    import os
    import shutil

    sf_dir = "/root/testdata/sf0.001"
    from pyspark.sql import functions as F

    from extract_permits_spark.sources.readers import load_events

    batch = load_events(spark, sf_dir)
    p = batch.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = batch.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    expected = {
        (r["purchase_id"], r["click_id"])
        for r in ev.interval_join_clicks_before_purchases(p, c).collect()
    }
    assert expected  # non-empty fixture

    with tempfile.TemporaryDirectory() as work:
        src_dir = os.path.join(work, "in")
        os.makedirs(src_dir)
        shutil.copy(f"{sf_dir}/events.parquet", src_dir)
        q = ev.run_interval_join_available_now(
            spark, src_dir, os.path.join(work, "ckpt"), table_name="ev_test_ssj"
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM ev_test_ssj").collect()
        got = {(r["purchase_id"], r["click_id"]) for r in rows}
        assert len(rows) == len(got)  # appended exactly once each
    assert got == expected


def test_bounded_backlog_drain_matches_batch(spark, tmp_path):
    """availableNow + maxFilesPerTrigger=1: a multi-file backlog drains in
    several bounded micro-batches (never one giant batch) and the final
    aggregate still equals the batch answer — the replay discipline a
    100 TB backlog needs."""
    import os

    from pyspark.sql import functions as F

    from extract_permits_spark.sources.readers import load_events

    sf_dir = "/root/testdata/sf0.001"
    batch = load_events(spark, sf_dir)
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ev.tumbling_counts(batch).collect()
    }

    src = str(tmp_path / "in")
    # split the backlog into 4 part files
    batch.repartition(4).write.parquet(src)
    stream = ev.read_events_stream(spark, src, max_files_per_trigger=1)
    q = (
        ev.tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("ev_test_bounded")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] and p["numInputRows"] > 0
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM ev_test_bounded").collect()
    }
    assert got == expected
    assert n_batches >= 3, f"expected a multi-batch drain, saw {n_batches}"


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """The bounded-state streaming dedup variant: duplicates arriving
    within the watermark horizon collapse; state expires with event time
    instead of growing forever (the continuous-mode alternative to the
    unbounded dropDuplicates in run_dedup_available_now)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    src = str(tmp_path / "in")
    os.makedirs(src)
    # the same file twice: every event redelivered within its own event time
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "a.parquet"))
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "b.parquet"))

    stream = ev.read_events_stream(spark, src)
    deduped = stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .writeStream.format("memory")
        .queryName("ev_test_wmdedup")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from extract_permits_spark.sources.readers import load_events

    expected = {
        (r["event_type"], r["n"])
        for r in load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count_distinct("event_id").alias("n"))
        .collect()
    }
    got = {
        (r["event_type"], r["n_events"])
        for r in spark.sql("SELECT * FROM ev_test_wmdedup").collect()
    }
    assert got == expected


def test_stream_corpus_ingest_quarantines_poison_lines(spark, tmp_path):
    """The streaming ingest's quarantine rail: garbage, literal-null,
    and truncated-JSON lines land in the side table with the raw line
    as evidence; clean rows match the batch source exactly."""
    import os

    from pyspark.sql import types as T

    from extract_permits_spark.sinks.corpus_io import write_jsonl_corpus
    from extract_permits_spark.sources.readers import load_table
    from extract_permits_spark.streaming.corpus_ingest import (
        run_ingest_available_now,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src = str(tmp_path / "in")
    write_jsonl_corpus(docs.repartition(2), src, compression=None)
    poison = ["xx not json", "null", '{"doc_id": 1, "text": "trunc']
    with open(os.path.join(src, "poison.json"), "w") as f:
        f.write("\n".join(poison) + "\n\n")  # plus a blank line: dropped
    qc, qb = run_ingest_available_now(
        spark, src, str(tmp_path / "ckpt"), schema, "t_clean_x", "t_bad_x"
    )
    qc.awaitTermination(120)
    qb.awaitTermination(120)
    clean = spark.sql("SELECT * FROM t_clean_x")
    bad = [r[0] for r in spark.sql("SELECT * FROM t_bad_x").collect()]
    assert clean.count() == docs.count()
    assert clean.where(clean.doc_id.isNull()).count() == 0
    assert sorted(bad) == sorted(poison)


def test_stream_neardup_scoring_against_static_index(spark):
    # an arriving doc that exactly duplicates a static doc must flag
    # (identical shingles -> identical signature -> same band buckets);
    # a doc sharing no 3-gram cannot flag; a too-short doc scores false
    from pyspark.sql import functions as F

    from extract_permits_spark.functions.similarity import minhash_md5_bands
    from extract_permits_spark.streaming.neardup_ingest import (
        score_batch_against_index,
    )

    static = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (101, "completely different words appear here only"),  # novel
            (102, "too short"),  # < 3 tokens: no shingles
        ],
        "doc_id long, text string",
    )
    idx = minhash_md5_bands(static)
    got = {
        r["doc_id"]: r["is_neardup"]
        for r in score_batch_against_index(batch, idx).collect()
    }
    assert got == {100: True, 101: False, 102: False}


def test_stream_decontaminate_scoring_against_eval_grams(spark):
    # a batch doc containing an eval 5-gram must flag with the right hit
    # count; a doc sharing words but no full 5-gram cannot flag; a
    # too-short doc (<5 tokens) has no grams and scores clean
    from pyspark.sql import functions as F

    from extract_permits_spark.streaming.decontaminate_ingest import (
        _grams,
        score_batch_against_eval_grams,
    )

    eval_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # contains two eval 5-grams (positions 1 and 2 of the eval doc)
            (100, "x alpha beta gamma delta epsilon zeta y"),
            (101, "alpha beta gamma words differ here now"),  # 5-gram breaks
            (102, "beta gamma delta"),  # < 5 tokens
        ],
        "doc_id long, text string",
    )
    ev = _grams(eval_docs, 5).select("g").distinct()
    got = {
        r["doc_id"]: (r["n_hits"], r["is_contaminated"])
        for r in score_batch_against_eval_grams(batch, ev).collect()
    }
    assert got == {100: (2, True), 101: (0, False), 102: (0, False)}


def test_stream_ann_index_ingest_incremental_layout(spark, tmp_path):
    """The streaming index write path must be INCREMENTAL and land the
    batch layout: 4 source shards with maxFilesPerTrigger=1 force >=2
    micro-batches (asserted via the query's lastProgress/recentProgress
    batch ids), the result directories are partitioned by cluster_id,
    and the drained content equals the batch kernel's assignment+codes
    exactly."""
    import os

    from pyspark.sql import functions as F

    from extract_permits_spark.functions import pq as pqfn
    from extract_permits_spark.plans.analytics import (
        _ivf_centroids_cached,
        _pq_book_cached,
    )
    from extract_permits_spark.sources.readers import load_table
    from extract_permits_spark.streaming.ann_index_ingest import encode_batch
    from extract_permits_spark.streaming.util import run_file_ingest

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    book = _pq_book_cached(spark, emb, sf)
    cents = _ivf_centroids_cached(spark, emb, sf)
    kern = pqfn._assign_codes_arrow(book, cents)
    src = str(tmp_path / "in")
    emb.repartition(4).write.parquet(src)
    idx = str(tmp_path / "index")
    q = run_file_ingest(
        spark, src, emb.schema, str(tmp_path / "ckpt"), idx,
        score=lambda b: encode_batch(b, kern),
        partition_by=("cluster_id",),
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, f"expected multiple micro-batches, got {n_batches}"
    # cluster-partitioned directory layout (the partition-pruning contract)
    dirs = [d for d in os.listdir(idx) if d.startswith("cluster_id=")]
    assert len(dirs) >= 2, dirs
    # content parity with the batch build
    got = {
        (r["vec_id"], int(r["cluster_id"]), tuple(r["code_arr"]))
        for r in spark.read.parquet(idx).collect()
    }
    want = {
        (r["vec_id"], int(r["_a"]["cluster_id"]), tuple(r["_a"]["code_arr"]))
        for r in emb.select("vec_id", kern(F.col("embedding")).alias("_a")).collect()
    }
    assert got == want


def test_ann_index_ingest_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch replayed after a
    failure between the data write and the checkpoint commit must NOT
    duplicate (vec_id, code_arr) rows in the index (r9 advice). The write
    is batch_id-scoped with dynamic partition overwrite, so applying the
    SAME batch twice — the replay — leaves the index bit-identical."""
    from pyspark.sql import functions as F

    from extract_permits_spark.functions import pq as pqfn
    from extract_permits_spark.plans.analytics import (
        _ivf_centroids_cached,
        _pq_book_cached,
    )
    from extract_permits_spark.sources.readers import load_table
    from extract_permits_spark.streaming.ann_index_ingest import encode_batch
    from extract_permits_spark.streaming.util import land_batch

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    book = _pq_book_cached(spark, emb, sf)
    cents = _ivf_centroids_cached(spark, emb, sf)
    kern = pqfn._assign_codes_arrow(book, cents)
    idx = str(tmp_path / "index")

    b0 = emb.where(F.col("vec_id") % 2 == 0)
    b1 = emb.where(F.col("vec_id") % 2 == 1)
    land_batch(encode_batch(b0, kern), 0, idx, ("cluster_id",))
    land_batch(encode_batch(b1, kern), 1, idx, ("cluster_id",))
    before = sorted(
        (r["vec_id"], int(r["cluster_id"]), tuple(r["code_arr"]))
        for r in spark.read.parquet(idx).collect()
    )
    assert len(before) == emb.count()
    assert len({v for v, _, _ in before}) == len(before)  # unique vec_ids

    # the replay: batch 0 arrives again with the same batch_id
    land_batch(encode_batch(b0, kern), 0, idx, ("cluster_id",))
    after = sorted(
        (r["vec_id"], int(r["cluster_id"]), tuple(r["code_arr"]))
        for r in spark.read.parquet(idx).collect()
    )
    assert after == before


def test_decontaminate_ingest_replay_is_idempotent(spark, tmp_path):
    """Same at-least-once contract for the decontamination gate: replaying
    a micro-batch with its original batch_id overwrites its own
    ingest_batch_id partition instead of appending duplicate
    (doc_id, n_hits, is_contaminated) rows (r9 advice)."""
    from extract_permits_spark.streaming.decontaminate_ingest import (
        _grams,
        score_batch_against_eval_grams as score,
    )
    from extract_permits_spark.streaming.util import land_batch

    eval_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    b0 = spark.createDataFrame(
        [(100, "x alpha beta gamma delta epsilon zeta y")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(101, "alpha beta gamma words differ here now")],
        "doc_id long, text string",
    )
    ev = _grams(eval_docs, 5).select("g").distinct()
    out = str(tmp_path / "out")
    land_batch(score(b0, ev), 0, out)
    land_batch(score(b1, ev), 1, out)
    before = sorted(
        (r["doc_id"], r["n_hits"], r["is_contaminated"])
        for r in spark.read.parquet(out).collect()
    )
    assert before == [(100, 2, True), (101, 0, False)]

    # the replay: batch 0 arrives again with the same batch_id
    land_batch(score(b0, ev), 0, out)
    after = sorted(
        (r["doc_id"], r["n_hits"], r["is_contaminated"])
        for r in spark.read.parquet(out).collect()
    )
    assert after == before


def test_semantic_decon_ingest_replay_is_idempotent(spark, tmp_path):
    """The semantic gate shares the at-least-once contract: replaying a
    micro-batch with its original batch_id overwrites its own partition
    instead of appending duplicate (vec_id, n_hits, is_contaminated)
    rows, and a planted near-copy of an eval vector flags."""
    from pyspark.sql import functions as F

    from extract_permits_spark.sources.readers import load_table
    from extract_permits_spark.streaming.semantic_decon_ingest import (
        score_batch_against_eval as score,
    )
    from extract_permits_spark.streaming.util import land_batch

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(40)
    rows = emb.collect()
    ev = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows[:5]],
        "vec_id long, embedding array<double>",
    )
    v0 = [float(x) for x in rows[0]["embedding"]]
    leaked = [x * 1.001 + (0.0005 if i == 0 else 0.0) for i, x in enumerate(v0)]
    b0 = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows[5:20]]
        + [(999999, leaked)],
        "vec_id long, embedding array<double>",
    )
    b1 = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows[20:]],
        "vec_id long, embedding array<double>",
    )
    out = str(tmp_path / "out")
    land_batch(score(b0, ev, min_cosine=0.99), 0, out)
    land_batch(score(b1, ev, min_cosine=0.99), 1, out)
    before = sorted(
        (r["vec_id"], r["n_hits"], r["is_contaminated"])
        for r in spark.read.parquet(out).collect()
    )
    assert len(before) == 36  # 15 + leak + 20, each exactly once
    got = {v: (n, c) for v, n, c in before}
    assert got[999999] == (1, True)
    assert sum(1 for n, c in got.values() if c) == 1  # only the leak

    # the replay: batch 0 arrives again with the same batch_id
    land_batch(score(b0, ev, min_cosine=0.99), 0, out)
    after = sorted(
        (r["vec_id"], r["n_hits"], r["is_contaminated"])
        for r in spark.read.parquet(out).collect()
    )
    assert after == before

    # an EMPTY micro-batch (processing-time triggers can deliver these;
    # availableNow file batches never do) is a no-op: nothing written,
    # nothing disturbed, no crash in the dim probe (r10 ADVICE)
    empty = b0.where(F.col("vec_id") < 0)
    land_batch(score(empty, ev, min_cosine=0.99), 2, out)
    final = sorted(
        (r["vec_id"], r["n_hits"], r["is_contaminated"])
        for r in spark.read.parquet(out).collect()
    )
    assert final == before


def test_neardup_ingest_replay_is_idempotent(spark, tmp_path):
    """Same at-least-once contract for the near-dup gate: replaying a
    micro-batch with its original batch_id overwrites its own partition
    instead of appending duplicate (doc_id, is_neardup) rows."""
    from extract_permits_spark.functions.similarity import minhash_md5_bands
    from extract_permits_spark.streaming.neardup_ingest import (
        score_batch_against_index as score,
    )
    from extract_permits_spark.streaming.util import land_batch

    static = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    b0 = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(101, "completely different words appear here only")],
        "doc_id long, text string",
    )
    idx = minhash_md5_bands(static)
    out = str(tmp_path / "out")
    land_batch(score(b0, idx), 0, out)
    land_batch(score(b1, idx), 1, out)
    before = sorted(
        (r["doc_id"], r["is_neardup"])
        for r in spark.read.parquet(out).collect()
    )
    assert before == [(100, True), (101, False)]

    # the replay: batch 0 arrives again with the same batch_id
    land_batch(score(b0, idx), 0, out)
    after = sorted(
        (r["doc_id"], r["is_neardup"])
        for r in spark.read.parquet(out).collect()
    )
    assert after == before


def test_cdc_apply_replay_is_idempotent(spark, tmp_path):
    """cdc_apply's exactly-once claim rests on MERGE idempotency, not
    batch_id scoping: replaying a micro-batch against a snapshot that
    already incorporates it must install an identical snapshot — both in
    the crash-replay order (b0, b0 again, b1) and after a later batch
    has landed (b0, b1, b0 again). A planted append-style double-apply
    must diverge, proving the comparison has teeth."""
    from extract_permits_spark.streaming.cdc_apply import (
        apply_cdc_batch,
        merge_snapshot,
    )

    cols = "user_id long, ts timestamp, event_id long, value double, event_type string"

    def mk(rows):
        return spark.createDataFrame(rows, cols)

    import datetime as dt

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    b0 = mk(
        [
            (1, t("2024-01-01T00:00:00"), 10, 1.0, "a"),
            (1, t("2024-01-01T00:05:00"), 11, 2.0, "b"),
            (2, t("2024-01-01T00:01:00"), 12, 3.0, "a"),
        ]
    )
    b1 = mk(
        [
            (1, t("2024-01-01T00:03:00"), 13, 9.0, "c"),  # older than 11: loses
            (2, t("2024-01-01T00:09:00"), 14, 4.0, "b"),  # newer: wins
            (3, t("2024-01-01T00:02:00"), 15, 5.0, "a"),
        ]
    )

    def snap(out):
        return sorted(
            map(tuple, spark.read.parquet(str(out) + "/live").collect())
        )

    out_a = tmp_path / "a"  # clean run: b0, b1
    apply_cdc_batch(spark, b0, 0, str(out_a))
    apply_cdc_batch(spark, b1, 1, str(out_a))
    want = snap(out_a)
    assert len(want) == 3  # one current row per user
    got = {r[0]: (r[2], r[3]) for r in want}
    assert got[1] == (11, 2.0) and got[2] == (14, 4.0) and got[3] == (15, 5.0)

    out_b = tmp_path / "b"  # crash replay: b0 written, checkpoint lost, b0 again
    apply_cdc_batch(spark, b0, 0, str(out_b))
    apply_cdc_batch(spark, b0, 0, str(out_b))
    apply_cdc_batch(spark, b1, 1, str(out_b))
    assert snap(out_b) == want

    # out-of-order redelivery after a later batch landed
    apply_cdc_batch(spark, b0, 0, str(out_a))
    assert snap(out_a) == want

    # planted violation: an append-without-merge sink is NOT idempotent —
    # the same comparison must catch it
    naive = merge_snapshot(None, b0).unionByName(merge_snapshot(None, b0))
    assert sorted(map(tuple, naive.collect())) != sorted(
        map(tuple, merge_snapshot(None, b0).collect())
    )


def test_cdc_apply_swap_crash_windows_recover(spark, tmp_path):
    """r11 ADVICE: the directory swap is two renames, and a crash in
    between (live gone, _old_{bid} holds the prior state) or just after
    (live present, stale _old_{bid} left behind) must not lose state or
    fail the replay. Simulate both crash states by arranging the dirs
    exactly as a killed process would leave them, then replay the batch
    and check the snapshot equals the clean-run result."""
    import os
    import shutil

    from extract_permits_spark.streaming.cdc_apply import apply_cdc_batch

    cols = "user_id long, ts timestamp, event_id long, value double, event_type string"
    import datetime as dt

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    b0 = spark.createDataFrame(
        [(1, t("2024-01-01T00:00:00"), 10, 1.0, "a"),
         (2, t("2024-01-01T00:01:00"), 11, 3.0, "a")], cols
    )
    b1 = spark.createDataFrame(
        [(1, t("2024-01-01T00:05:00"), 12, 2.0, "b"),
         (3, t("2024-01-01T00:02:00"), 13, 5.0, "a")], cols
    )

    def snap(out):
        return sorted(map(tuple, spark.read.parquet(str(out) + "/live").collect()))

    clean = tmp_path / "clean"
    apply_cdc_batch(spark, b0, 0, str(clean))
    apply_cdc_batch(spark, b1, 1, str(clean))
    want = snap(clean)

    # crash window A: between rename(live→old) and rename(scratch→live)
    # during batch 1 — live is MISSING, _old_1 holds the b0 snapshot,
    # _scratch_1 holds a (possibly partial) merge; the replay must
    # restore _old_1 as live, drop the scratch, and re-apply b1.
    a = tmp_path / "crash_a"
    apply_cdc_batch(spark, b0, 0, str(a))
    os.rename(a / "live", a / "_old_1")
    (a / "_scratch_1").mkdir()
    (a / "_scratch_1" / "part-partial.parquet").write_bytes(b"torn write")
    apply_cdc_batch(spark, b1, 1, str(a))
    assert snap(a) == want
    assert not any(p.name.startswith(("_old_", "_scratch_")) for p in a.iterdir())

    # crash window B: after rename(scratch→live), before rmtree(old) —
    # live already holds the merged batch-1 snapshot AND a stale _old_1
    # remains; the replay's own rename(live→old) must not collide.
    b = tmp_path / "crash_b"
    apply_cdc_batch(spark, b0, 0, str(b))
    apply_cdc_batch(spark, b1, 1, str(b))
    shutil.copytree(b / "live", b / "_old_1")
    apply_cdc_batch(spark, b1, 1, str(b))
    assert snap(b) == want
    assert not any(p.name.startswith(("_old_", "_scratch_")) for p in b.iterdir())


def test_phash_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """The phash scorer landed twice with the same batch_id must replace
    its own partition, not append — the at-least-once contract every
    ingest sink in this engine pins."""
    from pyspark.sql import functions as F

    from extract_permits_spark.functions.multimodal import (
        hamming_band_rows,
        phash64,
        synthetic_phash_media,
    )
    from extract_permits_spark.sources.readers import load_table
    from extract_permits_spark.streaming.phash_ingest import (
        score_batch_against_index as score,
    )
    from extract_permits_spark.streaming.util import land_batch

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").where(
        F.col("doc_id") < 30
    )
    media = synthetic_phash_media(docs)
    static_bands = hamming_band_rows(
        phash64(media.where(F.col("media_id") % 2 == 0))
    ).persist()
    batch = media.where(F.col("media_id") % 2 == 1)
    out = str(tmp_path / "out")
    land_batch(score(batch, static_bands), 3, out)
    first = sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    )
    land_batch(score(batch, static_bands), 3, out)  # replay
    second = sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    )
    static_bands.unpersist()
    assert first == second
    # twins (media_id % 4 == 1) must be flagged: base is in the static set
    flagged = {r["media_id"] for r in spark.read.parquet(out).collect()
               if r["is_neardup"]}
    assert {m for m in range(30) if m % 4 == 1} <= flagged


def test_ingest_rail_lands_each_batch_once_and_replays_are_noops(spark, tmp_path):
    """The shared ingest rail (streaming/util.py) end to end: three staged
    files drain as three micro-batches, each landed exactly once under
    the (cluster_id=, ingest_batch_id=) layout; landing a batch again
    under its own id (the at-least-once replay) and landing an EMPTY
    scored batch both leave the output unchanged."""
    import os

    from pyspark.sql import functions as F

    from extract_permits_spark.streaming.util import (
        land_batch,
        run_file_ingest,
        stage_batches,
    )

    rows = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k long, cluster_id int"
    )
    frames = [rows.where(F.col("k") % 3 == i) for i in range(3)]
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    stage_batches(frames, src)
    assert sorted(os.listdir(src)) == ["f0.parquet", "f1.parquet", "f2.parquet"]

    def score(b):
        return b.select("k", "cluster_id", (F.col("k") * 10).alias("v"))

    q = run_file_ingest(
        spark, src, rows.schema, str(tmp_path / "ckpt"), out, score,
        partition_by=("cluster_id",),
    )
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3

    def snap():
        return sorted(
            (r["k"], r["cluster_id"], r["v"], r["ingest_batch_id"])
            for r in spark.read.parquet(out).collect()
        )

    landed = snap()
    # every row exactly once, one batch id per staged file
    assert sorted(k for k, *_ in landed) == list(range(30))
    assert len({b for *_, b in landed}) == 3
    assert all(v == 10 * k for k, _, v, _ in landed)
    # partition_by nests ingest_batch_id under the caller's key
    clusters = sorted(d for d in os.listdir(out) if not d.startswith("_"))
    assert clusters == ["cluster_id=0", "cluster_id=1", "cluster_id=2"]
    for c in clusters:
        leaves = os.listdir(os.path.join(out, c))
        assert leaves and all(d.startswith("ingest_batch_id=") for d in leaves)

    # replay: the file that landed as batch b arrives again under id b
    b = next(b for k, _, _, b in landed if k == 0)
    land_batch(score(frames[0]), b, out, ("cluster_id",))
    assert snap() == landed
    # an empty scored batch writes no partition and disturbs none
    land_batch(score(frames[0].where(F.col("k") < 0)), 7, out, ("cluster_id",))
    assert snap() == landed
    assert not any(
        "ingest_batch_id=7" in d for _, ds, _ in os.walk(out) for d in ds
    )
