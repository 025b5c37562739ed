"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with the noop sink (full execution, no driver
collect) — measures the engine, not result transfer.

Methodology (r6): every query runs FOUR times — one cold run (reported
under "queries_cold") then three steady-state runs; "queries" holds the
per-query MEDIAN of the steady runs and "queries_min" the minimum, so
round-over-round drift (r3->r4 moved +9% on identical code) is
distinguishable from real regressions. "value" sums the medians.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "s1_scan_filter_order",
    "s2_dim_join_filter",
    "x1_explode_pipe_list",
    "p_clean_bundle",
    "p9_keyword_tag",
    "j1_preagg_join",
    "j2_anti_join",
    "w2_first_per_group",
    "w4_dup_flag",
    "e1_validate_partition",
    "dedup_exact",
    "dedup_minhash_lsh",
    # md5-portable MinHash twin (r14, VERDICT r13 #5): same banded
    # algorithm both engines, so the dedup family carries a PAIRED
    # headline number (dedup_minhash_lsh stays oracle-unpaired — its
    # oracle is the deliberate O(n²) recall check)
    "dedup_minhash_md5",
    "dedup_simhash",
    "ann_cosine_topk",
    # embedding near-dup headline is the LSH bucket join (the scale path);
    # the BroadcastNestedLoop brute-force twin (dedup_embedding_cosine)
    # stays registry-only as the recall oracle (r5-VERDICT ask #5)
    "emb_neardup_lsh",
    "text_quality",
    "text_language_id",
    "ev_sessionize",
    "ev_tumbling_agg",
    "mm_binary_features",
    "q3_shipping_priority",
    "q5_nation_volume",
    # r6b/r6c additions — the new analytics surface earns bench rows too
    "q6_forecast_revenue",
    "q10_returned_items",
    "ev_funnel",
    "ev_transitions",
    "text_tfidf",
    "basket_brand_pairs",
    # adapted TPC-H classics (the heavier join shapes earn bench rows;
    # the scalar/scan-only ones are covered by q6's row already)
    "q9_profit_by_nation",
    "q18_large_volume",
    "q21_waiting_supplier",
    # composed corpus-curation flagship (r7) — custom runnable below
    # clears the pair/components memo caches before every run so each
    # timing is the full end-to-end chain, like DuckDB's replay
    "llm_corpus_curation",
    # r7 additions: the MRL serving funnel (fair DuckDB pair — both
    # engines replay the coarse+rerank rankings) and the real PNG
    # decode path (timed Spark-side only; bench_oracle skips it — its
    # oracle is closed-form arithmetic, not a codec, so the pair would
    # be algorithmically asymmetric)
    "ann_matryoshka_rerank",
    "mm_image_stats",
    # composed shard-assembly flagship (r7): filter -> chunk -> next-fit
    # pack; the DuckDB pair replays the identical walk as a recursive CTE
    "llm_tokenize_pack",
    # lexical retrieval representative (r7): BM25 over the token stream,
    # exact-integer stats, fair like-for-like DuckDB pair
    "rag_bm25_topk",
    # composed RAG-serving flagship (r9): hybrid candidates -> shortlist
    # near-dup prune -> chunk -> 512-token greedy context pack; the DuckDB
    # pair replays the identical chained-CTE composition
    "rag_context_assembly",
    # decontamination representative (r9): broadcast eval n-gram probe
    # over the training explode — the one headline shape joining on gram
    # text (functions/corpus.py:decontaminate)
    "docs_decontaminate",
    # the fifth composed flagship (r9): the FULL pretraining chain
    # (clean -> decontaminate -> dedup -> quality prune -> domain mix ->
    # chunk -> pack); DuckDB replays the whole chained CTE incl. the
    # recursive pack walk
    "llm_pretrain_pipeline",
    # IVFADC composition (r9): coarse-probe pruning + ADC over PQ codes.
    # Timed Spark-side only (bench_oracle skips it): the production path
    # amortizes both fits through the index caches while the oracle
    # replays them per query — correct as an oracle, asymmetric as a
    # timed pair.
    "emb_ivfpq_topk",
    # Batched IVFADC serving (r9): broadcast probe sets + distance
    # tables, WindowGroupLimit per-query top-k. Spark-timed only, same
    # fit-amortization asymmetry as emb_ivfpq_topk.
    "emb_ivfpq_batch_topk",
    # semantic decontamination (r10): cross-dataset LSH probe — eval side
    # explodes the Hamming-1 ball, corpus keeps exact signatures. Fair
    # pair like emb_neardup_lsh: both engines replay signatures + the
    # 6-dp cosine verification (candidate step bucket-join vs pairwise,
    # same result set below the bucket cap).
    "emb_cross_decontaminate",
    # Z-order layout (r13): equi-depth rank buckets -> Morton key ->
    # file assignment + per-file min/max skipping stats. Fair pair: the
    # DuckDB oracle replays the identical rank/bit-interleave/stats
    # construction as window + bit-op SQL.
    "docs_zorder_layout",
    # multimodal dedup representative (r14): real PNG decode -> dHash ->
    # banded Hamming join. Paired since r13 (judge ask): the oracle leg
    # computes the hashes closed-form rather than through a codec, so
    # the ratio measures decode overhead BY DESIGN — the caveat lives in
    # BASELINE.md next to the number.
    "mm_image_phash",
    # the other two computed-rail multimodal representatives (r13):
    # same closed-form-oracle caveat as mm_image_phash.
    "mm_video_shots",
    "mm_audio_fingerprint",
    # coreset selection (r14): greedy k-center, k driver-coordinated
    # passes + codegen argmin assignment. Fair pair — the DuckDB twin
    # replays the identical greedy (materialized CTE chain); the bench
    # runnable clears the selection memo so every run pays the k passes,
    # like DuckDB does.
    "emb_kcenter_coreset",
    # batched k-center (r13): the large-k scale path — 2 top-b passes
    # instead of 7 argmax passes at k=8,b=4. Fair pair: the DuckDB twin
    # unrolls the identical batched rounds; fresh-selection runnable.
    "emb_kcenter_batch",
    # deterministic HLL distinct sketch (r13): one 256-register groupBy
    # with map-side combine. Fair pair: DuckDB replays the identical
    # registers/fold/correction.
    "docs_hll_distinct",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from extract_permits_spark.session import get_spark
    from extract_permits_spark.plans import analytics

    spark = get_spark("bench")
    qs = analytics.queries()

    # warm the JVM/IO path once (not timed)
    force(qs["s3_scalar_max"](spark, sf_dir))

    _pipeline_out: list[str] = []

    def run_pipeline_once() -> None:
        # flagship permit pipeline end-to-end, BOTH partitions, as ONE
        # job: partitioned parquet write (SURVEY §2.9 E1 "one job, two
        # filtered writes"). r2 methodology persisted the validated parent
        # and noop-forced each partition; the single-pass write drops the
        # full-frame persist serialization (~18.7s -> ~15.2s at sf0.1) and
        # measures a REAL sink, which noop did not.
        # r16 (VERDICT r15 #2): one fixed output dir, mode("overwrite")
        # per run — the scale row's pattern. The per-run mkdtemp+rmtree
        # used to sit INSIDE the timed sample (~0.3-0.5 s of directory
        # churn that is not the query); cleanup now happens at exit.
        import atexit
        import shutil
        import tempfile

        from extract_permits_spark.plans.permits import (
            permits_from_tpch,
            write_pipeline_partitioned,
        )

        if not _pipeline_out:
            _pipeline_out.append(tempfile.mkdtemp(prefix="bench_pipeline_"))
            atexit.register(
                shutil.rmtree, _pipeline_out[0], ignore_errors=True
            )
        permits_raw, universe = permits_from_tpch(spark, sf_dir)
        write_pipeline_partitioned(permits_raw, universe, _pipeline_out[0])

    def run_simhash_production() -> None:
        # the xxhash64/64-bit production simhash (r01/r02 bench shape).
        # The registry's dedup_simhash entry switched to the md5-portable
        # variant so its DuckDB oracle can replay it; the bench keeps
        # timing the production fast path, like-for-like across rounds.
        from extract_permits_spark.functions import similarity as simfn
        from extract_permits_spark.sources.readers import load_table

        force(simfn.simhash_pairs(load_table(spark, sf_dir, "documents"),
                                  max_hamming=7))

    def run_kcenter_fresh() -> None:
        # the registry memoizes the greedy selection per (session,
        # fixture) — correct for the harness, but a steady-state that
        # skips the k selection passes would not be comparable to the
        # oracle's full greedy replay.
        from extract_permits_spark.plans import _registry as _reg

        _reg._KCENTER_CACHE.clear()
        force(qs["emb_kcenter_coreset"](spark, sf_dir))

    def run_kcenter_batch_fresh() -> None:
        # same fresh-selection contract for the batched variant (r13):
        # ceil((k-1)/b) top-b passes instead of k-1 argmax passes
        from extract_permits_spark.plans import _registry as _reg

        _reg._KCENTER_CACHE.clear()
        force(qs["emb_kcenter_batch"](spark, sf_dir))

    def run_curation_fresh() -> None:
        # end-to-end each run: the registry memoizes the shingle-pair
        # list and the components fixpoint per (session, fixture) —
        # legitimate reuse for the correctness harness, but a bench
        # steady-state that skips the closure would not be comparable
        # to DuckDB's full-query replay.
        from extract_permits_spark.plans import _registry as _reg2

        _reg2.clear_frame_caches()  # frees checkpoint blocks too (r13)
        force(qs["llm_corpus_curation"](spark, sf_dir))

    runnables: list[tuple[str, object]] = [
        (name, lambda name=name: force(qs[name](spark, sf_dir)))
        for name in HEADLINE
        if name in qs
        and name not in (
            "dedup_simhash", "llm_corpus_curation", "emb_kcenter_coreset",
            "emb_kcenter_batch",
        )
    ]
    runnables.append(("dedup_simhash", run_simhash_production))
    # md5-portable SimHash twin (r14, VERDICT r13 #5): the registry's
    # dedup_simhash entry IS the md5 variant, so its oracle replays the
    # identical algorithm — a fair pair the production-xxhash row above
    # can't be. Both rows stay: production for round-over-round
    # like-for-like, md5 for the paired ratio.
    runnables.append(
        ("dedup_simhash_md5", lambda: force(qs["dedup_simhash"](spark, sf_dir)))
    )
    runnables.append(("emb_kcenter_coreset", run_kcenter_fresh))
    runnables.append(("emb_kcenter_batch", run_kcenter_batch_fresh))

    # k=64 selection-pass measurement (r14, VERDICT r13 #6): the batched
    # variant exists to win when k ≫ batch, but the fixture entries run
    # k=8 where it merely halves the floor. This row times the FIT ONLY
    # (the assignment epilogue is identical either way) at k=64/batch=8
    # — ceil(63/8)=8 top-8 passes. The exact greedy's 63 sequential
    # argmax passes were measured ONCE (sf0.1 steady: 39.3 s vs 6.3 s,
    # 6.3× for a 7.9× pass ratio — SCALE.md r14) and are NOT re-run per
    # round: 160 s/sitting to re-confirm a documented floor buys
    # nothing. Spark-side only (an unrolled 64-round DuckDB CTE chain
    # would measure SQL-text compilation, not the algorithm).
    def run_kcenter_fit_batch_k64() -> None:
        from extract_permits_spark.functions import similarity as _simf
        from extract_permits_spark.sources.readers import load_table as _lt

        _simf.kcenter_select_batched(
            _lt(spark, sf_dir, "embeddings"), k=64, batch=8
        )

    runnables.append(("emb_kcenter_fit_batch_k64", run_kcenter_fit_batch_k64))
    runnables.append(("llm_corpus_curation", run_curation_fresh))
    runnables.append(("permit_pipeline", run_pipeline_once))

    from extract_permits_spark.session import free_scratch_checkpoints

    def _settle_row():
        # r15 (VERDICT r14 #2/#4): give every headline ROW a settled
        # start — scratch-checkpoint free + cache clear + one GC nudge
        # — exactly what the scale rows already do between samples.
        # Quiet-host probes reproduced none of the r14 sitting's
        # anomalies (ev_funnel 4.00 -> 0.97 s, text_tfidf 3.16 -> 0.91,
        # all code unchanged): the rows were measuring predecessor heap
        # regime, not their plans. Runs OUTSIDE the timed sections;
        # within-row samples stay back-to-back as before.
        free_scratch_checkpoints()
        spark.catalog.clearCache()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    def _loadavg() -> float | None:
        # r16 (VERDICT r15 #3/#4): host-load evidence per row. This
        # sandbox takes hypervisor co-tenant bursts (loadavg 5-11 with
        # zero local processes) that inflate rows 2-15x; a sitting's
        # per-row 1-minute loadavg bracket makes those bursts
        # attributable after the fact instead of detective work.
        # Recorded OUTSIDE the timed sections, bench_last.json +
        # bench_history.jsonl only (the stdout contract is unchanged).
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except Exception:
            return None

    times: dict[str, float] = {}
    times_min: dict[str, float] = {}
    times_cold: dict[str, float] = {}
    row_load: dict[str, list] = {}
    steady_runs = 3
    # r16 (VERDICT r15 #2): the ONE real-sink headline row gets the
    # scale rows' settle-between-samples treatment. Root cause of its
    # r15 instability (driver median 7.2-7.4 vs min 4.45, c8 self-flag
    # 1.66): back-to-back steady samples of the wide partitioned write
    # inherit each other's heap churn and a ~1-in-6 sample hits a full-
    # GC tail — measured A/B on identical code: no-settle samples
    # 2.8-3.3 s with one 46.3 s blowup; settled samples 3.7-4.2 s with
    # zero tail (OPTIMIZATION_r16.md). Settling runs OUTSIDE the timed
    # sections and only CLEARS state, so it cannot flatter the row; the
    # noop-sink rows keep the r6 back-to-back protocol unchanged.
    settle_between = {"permit_pipeline"}
    for name, run in runnables:
        _settle_row()
        l0 = _loadavg()
        t0 = time.time()
        run()
        times_cold[name] = round(time.time() - t0, 3)
        samples = []
        for _ in range(steady_runs):
            if name in settle_between:
                _settle_row()
            t1 = time.time()
            run()
            samples.append(time.time() - t1)
        row_load[name] = [l0, _loadavg()]
        samples.sort()
        times[name] = round(samples[len(samples) // 2], 3)
        times_min[name] = round(samples[0], 3)
        # reclaim scratch localCheckpoint blocks OUTSIDE the timed runs
        # (r13: clearCache never frees them; the minhash-family entries
        # each leaked corpus-scale signature triples per run, taxing
        # every later row's heap)
        free_scratch_checkpoints()

    # scale row (NOT in the headline total, which stays comparable across
    # rounds): the flagship pipeline at an sf×10-equivalent input — the
    # sf0.1 fact tables lazily unioned 10× with shifted keys (~6M lineitem
    # rows, the sf1 shape).
    times_scale: dict[str, float] = {}
    times_scale_cold: dict[str, float] = {}
    times_scale_min: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_SKIP_SCALE") != "1":
        import shutil
        import tempfile

        from extract_permits_spark.plans.permits import (
            amplified_permits_from_tpch,
            write_pipeline_partitioned,
        )

        def _settle():
            # the scale rows share one JVM: clear cached relations and
            # nudge a full GC between rows so row N's heap churn (e.g.
            # the 6M-row pipeline) doesn't tax row N+1's measurement —
            # without this the minhash row has measured anywhere from
            # 13 s to 55 s on identical code depending on predecessor
            # heap state. r13: also reclaim scratch localCheckpoint
            # blocks (clearCache never touches them — every minhash-
            # family run leaked its corpus-scale signature triples, and
            # the 10x dedup row's leak taxed every row after it).
            from extract_permits_spark.session import (
                free_scratch_checkpoints,
            )

            free_scratch_checkpoints()
            spark.catalog.clearCache()
            try:
                spark._jvm.System.gc()
            except Exception:
                pass

        def _scale_sample(name: str, run) -> None:
            row_load[name] = [_loadavg()]
            # VERDICT r13 #2: scale rows used to be single COLD runs —
            # that protocol recorded rag_fusion_sf1eq at 5.70x when the
            # identical code probed ~1.5x steady, and repeatedly forced
            # host-regime detective work across rounds. Same treatment
            # as headline rows now: 1 cold + 3 steady, per-row median
            # reported in queries_scale, cold/min kept in
            # bench_last.json. _settle() before every steady sample so
            # each run sees a comparable heap (the curation row's
            # documented GC sensitivity).
            t0 = time.time()
            run()
            times_scale_cold[name] = round(time.time() - t0, 3)
            samples = []
            for _ in range(3):
                _settle()
                t1 = time.time()
                run()
                samples.append(time.time() - t1)
            samples.sort()
            times_scale[name] = round(samples[1], 3)
            times_scale_min[name] = round(samples[0], 3)
            row_load[name].append(_loadavg())

        permits_raw, universe = amplified_permits_from_tpch(spark, sf_dir, copies=10)
        out = tempfile.mkdtemp(prefix="bench_pipeline_sf1eq_")
        try:
            # mode("overwrite") makes the same out dir reusable across
            # the four samples; the rmtree stays outside every timing
            _scale_sample(
                "permit_pipeline_sf1eq",
                lambda: write_pipeline_partitioned(permits_raw, universe, out),
            )
        finally:
            shutil.rmtree(out, ignore_errors=True)
        _settle()

        # dedup at 10x: documents unioned with shifted ids — every doc
        # gains 9 exact twins, the dup-heavy crawl shape LSH exists for.
        # md5 variant so bench_oracle can run the SAME algorithm in DuckDB.
        # The amplified corpus is MATERIALIZED outside the timed region
        # (r7: the lazy 10-copy union put 10 re-scans of documents.parquet
        # inside the timing and the row swung 11-43 s on identical code;
        # at scale the 50k-doc table exists on disk). bench_oracle mirrors
        # with CREATE TABLE from the same union.
        from pyspark.sql import functions as _F

        from extract_permits_spark.functions.similarity import minhash_md5_pairs
        from extract_permits_spark.sources.readers import load_table

        docs = load_table(spark, sf_dir, "documents")
        amp_lazy = docs
        for c in range(1, 10):
            amp_lazy = amp_lazy.unionByName(
                docs.withColumn("doc_id", _F.col("doc_id") + _F.lit(c * 10**7))
            )
        docs_dir = tempfile.mkdtemp(prefix="bench_docs_sf1eq_")
        # written as documents.parquet so the amplified dir IS a valid
        # sf_dir for load_table-based runnables (the rag fusion row)
        amp_lazy.write.parquet(os.path.join(docs_dir, "documents.parquet"))
        try:
            amp = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
            _scale_sample(
                "dedup_minhash_md5_sf1eq",
                lambda: force(minhash_md5_pairs(amp)),
            )
            _settle()

            # tf-idf at 10x documents: the explode → tf → broadcast-df
            # join → per-doc top-3 window shape, where the token stream
            # (not the vocabulary) is what grows 10x. Same materialized
            # frame both engines.
            from pyspark.sql import Window as _W

            # one exchange on doc_id BEFORE the explode serves the tf
            # aggregate AND the per-doc window (r13 partitioning-reuse,
            # same plan as the registry text_tfidf); explicit partition
            # count so AQE byte-coalescing cannot starve the ~50x
            # fan-out below the small exchange (r6 SCALE.md finding)
            tok = amp.repartition(
                spark.sparkContext.defaultParallelism * 2, _F.col("doc_id")
            ).select(
                "doc_id", _F.explode(_F.split("text", " ")).alias("term")
            ).where(_F.length("term") > 0)
            tf = tok.groupBy("doc_id", "term").agg(
                _F.count(_F.lit(1)).alias("tf")
            )
            df_ = tf.groupBy("term").agg(_F.count(_F.lit(1)).alias("df"))
            n_docs = amp.count()
            scored = tf.join(_F.broadcast(df_), "term").select(
                "doc_id",
                "term",
                _F.round(
                    _F.col("tf")
                    * _F.log(
                        _F.lit(float(n_docs + 1)) / (_F.col("df") + _F.lit(1.0))
                    ),
                    6,
                ).alias("tfidf"),
            )
            w10 = _W.partitionBy("doc_id").orderBy(
                _F.col("tfidf").desc(), _F.col("term")
            )
            _scale_sample(
                "text_tfidf_sf1eq",
                lambda: force(
                    scored.withColumn("rn", _F.row_number().over(w10))
                    .where(_F.col("rn") <= 3)
                    .drop("rn")
                ),
            )
            _settle()

            # hybrid RRF fusion at 10x documents (r13): the two-subtree
            # composition (BM25 scan + hash-embed scan + 20-row fusion
            # epilogue). The DuckDB pair replays the registry oracle's
            # embedded two-scorer SQL over the same materialized table.
            # (A one-scan "shared pre-aggregate" spelling was probed and
            # reverted — per-branch column pruning defeated
            # ReuseExchange and the physical plan ran FIVE corpus
            # explodes; see SCALE.md r13.)
            _scale_sample(
                "rag_fusion_sf1eq",
                lambda: force(qs["rag_rrf_fusion"](spark, docs_dir)),
            )
        finally:
            shutil.rmtree(docs_dir, ignore_errors=True)
        _settle()

        # classic-join shape at 10x: Q21's semi+anti pair on ~6M lineitem /
        # 150k orders (suppliers unamplified — 10x the lineitems per
        # supplier, the skew direction that stresses the orderkey
        # shuffle). bench_oracle mirrors with UNION ALL views + the same
        # oracle SQL.
        from extract_permits_spark.plans.tpch_extra import q21_from_frames

        li0 = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_returnflag"
        )
        o0 = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        sup = load_table(spark, sf_dir, "supplier")
        stride = 10**7
        amp_li, amp_o = li0, o0
        for c in range(1, 10):
            amp_li = amp_li.unionByName(
                li0.withColumn("l_orderkey", _F.col("l_orderkey") + _F.lit(c * stride))
            )
            amp_o = amp_o.unionByName(
                o0.withColumn("o_orderkey", _F.col("o_orderkey") + _F.lit(c * stride))
            )
        # materialize the amplified facts OUTSIDE the timed region:
        # timing a lazy 10-copy union would measure union re-scans, not
        # the join engine — at scale the 6M-row table exists on disk.
        # (The r7 single-pass rewrite scans lineitem once, but the
        # DuckDB oracle's EXISTS pair still reads it thrice, so
        # materializing keeps the pair symmetric.) bench_oracle mirrors
        # (CREATE TABLE from the union, then time the query).
        amp_dir = tempfile.mkdtemp(prefix="bench_q21_sf1eq_")
        amp_li.write.parquet(os.path.join(amp_dir, "lineitem"))
        amp_o.write.parquet(os.path.join(amp_dir, "orders"))
        try:
            li_m = spark.read.parquet(os.path.join(amp_dir, "lineitem"))
            o_m = spark.read.parquet(os.path.join(amp_dir, "orders"))
            _scale_sample(
                "q21_waiting_supplier_sf1eq",
                lambda: force(q21_from_frames(li_m, o_m, sup)),
            )
        finally:
            shutil.rmtree(amp_dir, ignore_errors=True)
        _settle()

        # tf-idf at 100x documents (sf10-equivalent, ~500k docs): the
        # scale where the shape crosses the 2x gate (r7 probe: Spark
        # 14.5 s vs DuckDB 10.1 s -> 1.44x; at 10x the per-job floor
        # still dominates, 4.7x). Amplified corpus materialized outside
        # the timed region on BOTH engines (bench_oracle mirrors with
        # CREATE TABLE from a 100-copy union).
        amp100 = docs
        for c in range(1, 100):
            amp100 = amp100.unionByName(
                docs.withColumn("doc_id", _F.col("doc_id") + _F.lit(c * 10**7))
            )
        tf_dir = tempfile.mkdtemp(prefix="bench_tfidf_sf10eq_")
        amp100.write.parquet(os.path.join(tf_dir, "documents"))
        try:
            amp_m = spark.read.parquet(os.path.join(tf_dir, "documents"))
            n100 = amp_m.count()
            # one doc_id exchange before the explode — see the sf1eq row
            tok100 = amp_m.repartition(
                spark.sparkContext.defaultParallelism * 2, _F.col("doc_id")
            ).select(
                "doc_id", _F.explode(_F.split("text", " ")).alias("term")
            ).where(_F.length("term") > 0)
            tf100 = tok100.groupBy("doc_id", "term").agg(
                _F.count(_F.lit(1)).alias("tf")
            )
            df100 = tf100.groupBy("term").agg(_F.count(_F.lit(1)).alias("df"))
            scored100 = tf100.join(_F.broadcast(df100), "term").select(
                "doc_id",
                "term",
                _F.round(
                    _F.col("tf")
                    * _F.log(
                        _F.lit(float(n100 + 1)) / (_F.col("df") + _F.lit(1.0))
                    ),
                    6,
                ).alias("tfidf"),
            )
            w100 = _W.partitionBy("doc_id").orderBy(
                _F.col("tfidf").desc(), _F.col("term")
            )
            _scale_sample(
                "text_tfidf_sf10eq",
                lambda: force(
                    scored100.withColumn("rn", _F.row_number().over(w100))
                    .where(_F.col("rn") <= 3)
                    .drop("rn")
                ),
            )
        finally:
            shutil.rmtree(tf_dir, ignore_errors=True)
        _settle()

        # curation flagship at 10x documents: the dup-heavy crawl shape
        # (every doc gains 9 exact twins). Amplified corpus materialized
        # to parquet OUTSIDE the timed region (the chain scans documents
        # several times; bench_oracle mirrors with a CREATE TABLE), then
        # the full filter -> exact-collapse near-dup components ->
        # canonical -> leakage-safe-split chain runs end-to-end against
        # a fresh fixture dir, so nothing is memoized going in.
        cur_dir = tempfile.mkdtemp(prefix="bench_curation_sf1eq_")
        # amp_lazy, not amp: the materialized 10x parquet was cleaned up
        # after the tfidf row, and this write runs outside the timed
        # region anyway (the union re-scans cost nothing measured)
        amp_lazy.write.parquet(os.path.join(cur_dir, "documents.parquet"))
        # settle AFTER the 10x materialization write — the write's heap
        # churn is exactly what made this row GC-phase-sensitive. HARD
        # settle here (r10): System.gc() is advisory and one call after
        # a full-bench sitting's churn only partially drains old-gen —
        # the residue triggers full GCs inside the fixpoint's many small
        # jobs and produced the documented ~1-in-8 2-3x tail (r9g,
        # r10b). Two nudges with a breath between them, all outside the
        # timed region.
        _settle()
        time.sleep(1.0)
        _settle()
        try:
            def _run_curation_sf1eq() -> None:
                # clear the memo caches so every sample (not just the
                # cold one against the fresh fixture dir) pays the full
                # pair-scan + components fixpoint, like DuckDB's replay
                from extract_permits_spark.plans import _registry as _reg3

                _reg3.clear_frame_caches()
                force(qs["llm_corpus_curation"](spark, cur_dir))

            _scale_sample("llm_corpus_curation_sf1eq", _run_curation_sf1eq)
        finally:
            shutil.rmtree(cur_dir, ignore_errors=True)
        _settle()

        # cross-dataset semantic decon at 10x embeddings (r11): the
        # marquee structural-win shape — the eval side explodes the
        # Hamming-1 ball of its signatures and equi-joins the corpus's
        # exact signatures, while the DuckDB pair replays the identical
        # semantics pairwise (tr x ev bit_count theta join), so this row
        # measures the bucket-join-vs-pairwise crossover at scale.
        # Amplified table materialized outside the timed region on both
        # engines; the key stride is a multiple of 10 so the vec_id%10
        # eval/train split is preserved.
        from extract_permits_spark.functions.similarity import lsh_cross_hits

        emb0 = load_table(spark, sf_dir, "embeddings")
        amp_emb = emb0
        for c in range(1, 10):
            amp_emb = amp_emb.unionByName(
                emb0.withColumn("vec_id", _F.col("vec_id") + _F.lit(c * 10**7))
            )
        emb_dir = tempfile.mkdtemp(prefix="bench_emb_sf1eq_")
        amp_emb.write.parquet(os.path.join(emb_dir, "embeddings"))
        _settle()
        try:
            emb_m = spark.read.parquet(os.path.join(emb_dir, "embeddings"))
            ev_s = emb_m.where(_F.col("vec_id") % 10 == 0)
            tr_s = emb_m.where(_F.col("vec_id") % 10 != 0)
            _scale_sample(
                "emb_cross_decontaminate_sf1eq",
                lambda: force(lsh_cross_hits(ev_s, tr_s, min_cosine=0.35)),
            )
        finally:
            shutil.rmtree(emb_dir, ignore_errors=True)

    total = round(sum(times.values()), 3)

    # Paired DuckDB leg (r11 VERDICT #7): if tools/bench_oracle.py has
    # written oracle_last.json for the same sf, fold its per-row seconds
    # into machine-readable ratios. The stdout block stays COMPACT
    # (headline totals + per-scale-row ratios only) because the driver's
    # tail capture is 2000 chars and the bare line is already ~1.5 kB;
    # the full per-row {spark, duckdb, ratio} map goes to
    # bench_last.json. oracle_ts records the oracle leg's mtime — a
    # same-sitting pair has the two legs minutes apart; anything older
    # is cross-sitting and must be read against BASELINE.md's host-drift
    # notes, not as plan drift.
    paired_stdout: dict | None = None
    paired_full: dict | None = None
    oracle_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "oracle_last.json"
    )
    if os.path.exists(oracle_path):
        try:
            with open(oracle_path) as f:
                oracle = json.load(f)
        except (OSError, json.JSONDecodeError):
            oracle = None
        if oracle and oracle.get("sf") == sf:
            otimes: dict[str, float] = oracle.get("queries", {})
            # the oracle leg keys the flagship composite by its registry
            # name; the bench row is the end-to-end partitioned write.
            # (dedup_simhash_md5 needs no alias: bench_oracle records its
            # timing under that same explicit name — an alias to the bare
            # registry name silently unpaired the row, caught r14-s2.)
            alias = {"permit_pipeline": "permit_pipeline_upload"}
            rows: dict[str, dict] = {}
            for name, s in {**times, **times_scale}.items():
                d = otimes.get(alias.get(name, name))
                if d is not None and d > 0:
                    rows[name] = {
                        "spark": s,
                        "duckdb": d,
                        "ratio": round(s / d, 3),
                    }
            shared_head = [n for n in rows if n in times]
            sp = round(sum(times[n] for n in shared_head), 3)
            du = round(sum(rows[n]["duckdb"] for n in shared_head), 3)
            import datetime as _dt

            ts = _dt.datetime.fromtimestamp(
                os.path.getmtime(oracle_path), tz=_dt.timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")
            paired_stdout = {
                "n": len(shared_head),
                "spark_s": sp,
                "duckdb_s": du,
                "ratio": round(sp / du, 3) if du else None,
                "scale": {
                    n: r["ratio"] for n, r in rows.items() if n in times_scale
                },
                "oracle_ts": ts,
            }
            paired_full = {
                "rows": rows,
                "headline_shared": {
                    "n": len(shared_head),
                    "spark_s": sp,
                    "duckdb_s": du,
                    "ratio": round(sp / du, 3) if du else None,
                },
                "oracle_ts": ts,
                "oracle_engine": oracle.get("engine"),
            }
    # The driver captures stdout via a tail that truncated the r6/r7 JSON
    # line mid-way. Two mitigations (r7 VERDICT #5): the stdout line
    # carries ONLY the contract fields (metric/value/unit/queries/sf plus
    # the scale rows) — about half the size — and the FULL record
    # (cold/min maps + methodology) goes to bench_last.json, the durable
    # copy. Contract confirmed (r8 ADVICE): BENCH_r08's tail parsed
    # end-to-end with exactly these keys, and the driver spec names only
    # metric/value/unit/queries/sf — the split is intentional; any
    # consumer needing cold/min/methodology must read bench_last.json.
    # self-flag unstable rows (r14 VERDICT #6): a median 1.5x its own
    # min within one sitting means the row caught a noisy regime — the
    # ev_funnel 4.00-vs-2.36 shape should not need a human to spot.
    # Value = median/min ratio, both headline and scale rows.
    unstable = {
        k: round(times[k] / times_min[k], 2)
        for k in times
        if times_min.get(k, 0) > 0 and times[k] / times_min[k] > 1.5
    }
    unstable.update(
        {
            k: round(times_scale[k] / times_scale_min[k], 2)
            for k in times_scale
            if times_scale_min.get(k, 0) > 0
            and times_scale[k] / times_scale_min[k] > 1.5
        }
    )
    # r16 (VERDICT r15 #3/#4): cross-SITTING instability flag — a
    # sustained external burst keeps a row's within-sitting median/min
    # ≈ 1 (all samples equally slow, the r15 mm_audio 24 s shape) and
    # evades the flag above; comparing this sitting's median against
    # the row's trailing cross-sitting MIN (bench_history.jsonl, same
    # sf + cpus, last 20 records) catches it. Advisory, recorded in
    # bench_last.json + the history ledger only — the stdout contract
    # is unchanged.
    from extract_permits_spark.session import default_parallelism

    cpus = default_parallelism()
    hist_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_history.jsonl"
    )
    unstable_xrun: dict[str, float] = {}
    try:
        with open(hist_path) as f:
            hist = [json.loads(line) for line in f if line.strip()]
        hist = [
            h for h in hist if h.get("sf") == sf and h.get("cpus") == cpus
        ][-20:]
        for k, med in {**times, **times_scale}.items():
            prior = []
            for h in hist:
                m = h.get("queries_min", {}).get(k) or h.get(
                    "queries_scale_min", {}
                ).get(k)
                if m:
                    prior.append(m)
            if prior and med > 2.0 * min(prior):
                unstable_xrun[k] = round(med / min(prior), 2)
    except OSError:
        pass
    stdout_obj = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # 2dp on stdout only (the driver's 2000-char tail; sub-10ms
        # digits are noise) — bench_last.json keeps the 3dp values
        "queries": {k: round(v, 2) for k, v in times.items()},
        "queries_scale": {k: round(v, 2) for k, v in times_scale.items()},
        "sf": sf,
    }
    if unstable:
        stdout_obj["unstable"] = unstable
    if paired_stdout is not None:
        stdout_obj["paired"] = paired_stdout
    stdout_line = json.dumps(stdout_obj)
    if len(stdout_line) > 1950 and "paired" in stdout_obj:
        # the driver parses the LAST 2000 chars of output; a longer line
        # gets its front truncated and fails to parse. Degrade the
        # paired block to its headline summary first (r14: the full
        # block with 8 scale ratios stopped fitting once the headline
        # grew past ~55 rows), and only then drop it entirely —
        # bench_last.json always keeps the full form.
        stdout_obj["paired"] = {
            k: paired_stdout[k] for k in ("n", "spark_s", "duckdb_s", "ratio")
        }
        stdout_line = json.dumps(stdout_obj)
    # r15-s9: drop "unstable" BEFORE dropping "paired" — the paired
    # ratio is the round's gate metric while unstable is advisory, and a
    # sitting with a few flags (s9: three) pushed the line past 1950
    # chars and silently dropped the paired block from the driver's
    # record (bench_last.json always keeps both).
    if len(stdout_line) > 1950 and "unstable" in stdout_obj:
        del stdout_obj["unstable"]
        stdout_line = json.dumps(stdout_obj)
    if len(stdout_line) > 1950 and "paired" in stdout_obj:
        del stdout_obj["paired"]
        stdout_line = json.dumps(stdout_obj)
    full_line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": times,
            "queries_min": times_min,
            "queries_cold": times_cold,
            "queries_scale": times_scale,
            "queries_scale_min": times_scale_min,
            "queries_scale_cold": times_scale_cold,
            "unstable": unstable,
            "unstable_xrun": unstable_xrun,
            "row_load": row_load,
            "sf": sf,
            "paired": paired_full,
            "methodology": "each query forced 4x: 1 cold run "
            "(queries_cold) + 3 steady runs; queries = per-query "
            "median of steady runs, queries_min = min; value sums "
            "the medians; every headline row starts settled "
            "(scratch-checkpoint free + clearCache + GC nudge, "
            "untimed) since r15 — before that, rows measured the "
            "predecessor's heap regime (r14 ev_funnel/text_tfidf "
            "anomalies); since r16 the one real-sink row "
            "(permit_pipeline) also settles between steady samples "
            "(scale-row protocol; its partitioned write hit ~1-in-6 "
            "full-GC tails back-to-back) and writes one fixed "
            "overwrite dir, mkdtemp/rmtree now outside the timing; "
            "queries_scale rows run at 10x the bench sf "
            "under the SAME 1-cold + 3-steady-median protocol since "
            "r14 (single cold runs before that — r13 VERDICT #2) and "
            "are excluded from value; paired = per-row ratios against "
            "oracle_last.json (tools/bench_oracle.py) when present "
            "for the same sf, null otherwise; unstable = rows whose "
            "steady median exceeds 1.5x their own min this sitting "
            "(value = median/min) — treat those numbers as suspect",
        }
    )
    print(stdout_line)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_last.json"), "w") as f:
        f.write(full_line + "\n")
    # append-only sitting ledger (r16, VERDICT r15 #3: bench_last.json is
    # overwritten per run, so a later run destroys the earlier sitting's
    # unstable/load evidence — the c32 flags of the r15 driver sitting
    # were unrecoverable). One compact record per sitting, durable.
    import datetime as _dt2

    hist_rec = {
        "ts": _dt2.datetime.now(tz=_dt2.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        ),
        "sf": sf,
        "cpus": cpus,
        "value": total,
        "queries": times,
        "queries_min": times_min,
        "queries_scale": times_scale,
        "queries_scale_min": times_scale_min,
        "unstable": unstable,
        "unstable_xrun": unstable_xrun,
        "row_load": row_load,
        "paired_ratio": (paired_stdout or {}).get("ratio"),
    }
    try:
        with open(hist_path, "a") as f:
            f.write(json.dumps(hist_rec) + "\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
