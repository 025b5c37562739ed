"""RAG retrieval/serving, snapshot & span analytics, multimodal stats,
matryoshka funnel, corpus report, streaming corpus ingest.

Split from plans/analytics.py in r12 along accretion order — NOT by
theme alone — because registration ORDER is load-bearing:
plans/analytics.py imports the four chunk modules in original-file
order, so the registry dict (and therefore queries()/oracle_sql()
iteration order and the driver's _CHECK_FIRST window semantics) is
bit-identical to the pre-split single file. The registry machinery,
_CHECK_FIRST, and the cross-chunk memo caches live in analytics.py.
"""

from __future__ import annotations

from extract_permits_spark.streaming.util import await_or_raise, scratch_dir
from extract_permits_spark.plans._registry import (
    _ORACLES,
    _components_cached,
    _emb_components_cached,
    register,
)
from extract_permits_spark.plans import ann_sql as _ann_sql
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from extract_permits_spark.functions import multimodal as mmfn
from extract_permits_spark.functions import similarity as simfn
from extract_permits_spark.functions import text as textfn
from extract_permits_spark.plans.analytics_core import _ann_recall_frame
from extract_permits_spark.plans.analytics_corpus import _COMPONENT_EDGES_SQL
from extract_permits_spark.operators.windows import distributed_group_rank
from extract_permits_spark.plans.analytics_events import (
    _BPE_ROUNDS,
    _HASH_EMBED_SQL_BODY,
    _RAG_QUERY_TEXT,
    _quality_sigmoid,
    vocab_bpe_train,
)
from extract_permits_spark.sources.readers import load_table



@register("text_hash_embed", "WITH " + _HASH_EMBED_SQL_BODY + "SELECT doc_id, dim, val FROM v")
def text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer over the corpus (functions/text.py:
    hashed_tf) — signed hashing-trick term frequencies in long format
    (doc_id, dim, val), exact integers, md5-derived buckets/signs so
    the 'embedding' is bit-reproducible across engines with no
    vocabulary pass and no model. The bridge between the text family
    and the embedding/ANN family: any text corpus becomes a vector
    corpus in one explode + one (id, dim) groupBy."""
    d = load_table(spark, sf_dir, "documents")
    return textfn.hashed_tf(d, id_col="doc_id", text_col="text", dims=64)


@register(
    "rag_hash_retrieval",
    "WITH " + _HASH_EMBED_SQL_BODY + f"""
    , q AS (
      SELECT CAST(CAST(('0x' || substring(md5(word), 1, 4)) AS INTEGER) % 64 AS INT) AS dim,
             CAST(sum(CASE WHEN CAST(('0x' || substring(md5(word), 5, 1)) AS INTEGER) % 2 = 0
                           THEN 1 ELSE -1 END) AS BIGINT) AS qval
      FROM (SELECT unnest(string_split_regex('{_RAG_QUERY_TEXT}', '\\s+')) AS word)
      GROUP BY dim
    ),
    scored AS (
      SELECT v.doc_id,
             CAST(sum(v.val * COALESCE(q.qval, 0)) AS BIGINT) AS dot,
             CAST(sum(v.val * v.val) AS BIGINT) AS n2
      FROM v LEFT JOIN q USING (dim)
      GROUP BY v.doc_id
    ),
    qn AS (SELECT CAST(sum(qval * qval) AS BIGINT) AS q2 FROM q)
    SELECT doc_id,
           floor(CAST(dot AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM scored CROSS JOIN qn
    ORDER BY cos_sim DESC, doc_id
    LIMIT 20
    """,
)
def rag_hash_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free text retrieval end-to-end: hash-embed the corpus
    (text_hash_embed), hash-embed the query string the same way
    (computed driver-side with hashlib — a ≤64-row literal, broadcast),
    cosine top-20 with doc_id tiebreak. The dot product and the corpus
    norm fold in ONE groupBy over one corpus scan: the broadcast query
    vector LEFT-joins onto the sparse dims (missing dims contribute 0
    to dot but still count toward the norm), so the whole query is one
    shuffle + an ordered limit. The only float is the final cosine,
    rounded with the half-up floor spelling on BOTH engines. At 100 TB
    this is the serving-side retrieval shape: one corpus pass,
    broadcast query, map-side partial aggregation."""
    import hashlib
    from collections import defaultdict

    d = load_table(spark, sf_dir, "documents")
    v = textfn.hashed_tf(d, id_col="doc_id", text_col="text", dims=64)

    qv: dict[int, int] = defaultdict(int)
    for word in _RAG_QUERY_TEXT.strip().lower().split():
        h = hashlib.md5(word.encode()).hexdigest()
        qv[int(h[:4], 16) % 64] += 1 if int(h[4], 16) % 2 == 0 else -1
    q2 = sum(x * x for x in qv.values())
    qdf = spark.createDataFrame(
        [(int(k), int(x)) for k, x in sorted(qv.items()) if x != 0],
        "dim int, qval long",
    )
    folded = (
        v.join(F.broadcast(qdf), "dim", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("val") * F.coalesce(F.col("qval"), F.lit(0)))
            .cast("long")
            .alias("dot"),
            F.sum(F.col("val") * F.col("val")).cast("long").alias("n2"),
        )
    )
    cos = (
        F.col("dot").cast("double")
        / F.sqrt(F.col("n2").cast("double") * F.lit(float(q2)))
    )
    cos6 = F.floor(cos * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        folded.select("doc_id", cos6.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(20)
    )


@register(
    "rag_bm25_topk",
    f"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) AS word
      FROM documents
    ),
    tok AS (SELECT doc_id, word FROM w WHERE word <> ''),
    lens AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot
      FROM lens
    ),
    q AS (
      SELECT DISTINCT word
      FROM (SELECT unnest(string_split_regex('{_RAG_QUERY_TEXT}', '\\s+')) AS word)
    ),
    tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE word IN (SELECT word FROM q)
      GROUP BY doc_id, word
    ),
    df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT tf.doc_id,
             sum(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * 2.2)
               / (tf + 1.2 * (0.25 + 0.75 * (dl * n_docs / CAST(tot AS DOUBLE))))
             ) AS s
      FROM tf JOIN df USING (word) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, floor(s * 1000000.0 + 0.5) / 1000000.0 AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def rag_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (Robertson/Spärck Jones, k1=1.2, b=0.75)
    for the same fixed query as rag_hash_retrieval — the classic scorer
    a lexical/semantic hybrid serves alongside the embedding path.

    Every statistic is an exact integer until the final fold: tf and df
    are computed on the query-filtered token stream (the filter reaches
    the explode, so corpus-scale work is the doc-length aggregate the
    scorer needs anyway), N/avg_len ride a 1-row broadcast, df a ≤6-row
    broadcast. The per-document score sums ≤6 idf-weighted terms and is
    rounded once with the half-up floor spelling; dl/avgdl is expressed
    as dl*N/total — one double division of exact integer operands. At
    100 TB: two token-stream aggregates (doc_id; doc_id,word-filtered)
    + one doc_id join, top-k as an ordered limit."""
    from extract_permits_spark.functions.similarity import tokens

    qwords = sorted(set(_RAG_QUERY_TEXT.strip().lower().split()))
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    lens = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    stats = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot"),
    )
    tf = (
        tok.where(F.col("word").isin(qwords))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm_len = F.col("dl") * F.col("n_docs") / F.col("tot").cast("double")
    term = (
        idf
        * (F.col("tf") * F.lit(2.2))
        / (F.col("tf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * norm_len))
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term).alias("s"))
    )
    bm25 = F.floor(F.col("s") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        scored.select("doc_id", bm25.alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


_RRF_SQL = f"""
    WITH bm AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
      FROM ({_ORACLES["rag_bm25_topk"]})
    ),
    hv AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk
      FROM ({_ORACLES["rag_hash_retrieval"]})
    ),
    u AS (
      SELECT doc_id, rnk FROM bm UNION ALL SELECT doc_id, rnk FROM hv
    )
    SELECT doc_id, sum(1.0 / (60 + rnk)) AS rrf
    FROM u GROUP BY doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
"""


@register("rag_rrf_fusion", _RRF_SQL)
def rag_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al., k=60)
    of the lexical (rag_bm25_topk) and vector (rag_hash_retrieval)
    candidate lists for the same query — the standard production
    combiner when neither scorer dominates. rrf = Σ 1/(60+rank) over
    the lists a document appears in; 1/(60+r) is an exact-int rational
    and at most two such doubles sum per doc, so the score is
    bit-identical across engines with no rounding.

    The two global row_number windows run over the 20-row CANDIDATE
    lists (bounded by each scorer's LIMIT), not the corpus — a
    single-partition sort of ≤20 rows is a driver-scale epilogue, while
    all corpus-scale work stays inside the two scorers' one-pass plans.
    The oracle embeds both scorers' full SQL and fuses identically —
    the composition, including both rankers' tiebreaks, is what's
    hash-checked.

    r13 postmortem (kept as a warning): a "shared-scan" spelling that
    derived BOTH scorers from one wide (doc_id, dim, qword) token
    pre-aggregate was built, verified hash-identical — and reverted.
    Catalyst prunes each consumer's columns independently, so the five
    downstream branches canonicalized to five DIFFERENT exchanges and
    ReuseExchange never fired: the physical plan ran the corpus explode
    FIVE times (plan-counted), strictly worse than this two-subtree
    composition's two. Cross-branch subtree sharing is only real if you
    materialize (checkpoint/persist) the shared frame — which at corpus
    scale means owning its block lifecycle — or keep the branches
    independent, as here. SCALE.md r13 records the full finding."""
    bm = rag_bm25_topk(spark, sf_dir)
    hv = rag_hash_retrieval(spark, sf_dir)
    wb = Window.orderBy(F.col("bm25").desc(), "doc_id")
    wh = Window.orderBy(F.col("cos_sim").desc(), "doc_id")
    u = bm.select(
        "doc_id", F.row_number().over(wb).alias("rnk")
    ).unionByName(
        hv.select("doc_id", F.row_number().over(wh).alias("rnk"))
    )
    return (
        u.groupBy("doc_id")
        .agg(F.sum(F.lit(1.0) / (F.lit(60) + F.col("rnk"))).alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


_HYBRID_RECALL_SQL = f"""
    WITH fused AS (
      SELECT doc_id FROM ({_RRF_SQL})
    ),
    truth AS (
      SELECT doc_id FROM ({_ORACLES["rag_hash_retrieval"]})
      ORDER BY cos_sim DESC, doc_id LIMIT 10
    )
    SELECT CAST(count(*) AS BIGINT) AS n_overlap,
           CAST(count(*) AS DOUBLE) / 10 AS recall_at_10
    FROM fused JOIN truth USING (doc_id)
"""


@register("rag_hybrid_recall", _HYBRID_RECALL_SQL)
def rag_hybrid_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-stack eval: recall@10 of the RRF-fused hybrid list
    against the pure-vector ranking (hash-embed cosine top-10) as ground
    truth — the offline number a serving team watches when tuning the
    lexical/vector blend (how far fusion moves the list from the
    embedding baseline). Both rankings are fully deterministic
    (bit-identical scores + doc_id tiebreaks), so recall is exact and
    hash-checkable: an integer overlap count and one final division.
    All corpus-scale work is inside the scorers; the eval epilogue is a
    10x10 semi-join."""
    fused = rag_rrf_fusion(spark, sf_dir).select("doc_id")
    truth = (
        rag_hash_retrieval(spark, sf_dir)
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(10)
        .select("doc_id")
    )
    return fused.join(truth, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / F.lit(10)).alias("recall_at_10"),
    )


_CTX_ASSEMBLY_SQL = f"""
    WITH r AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rnk
      FROM ({_RRF_SQL})
    ),
    cand AS (
      SELECT r.rnk, r.doc_id, COALESCE(d.text, '') AS text
      FROM r JOIN documents d USING (doc_id)
    ),
    sh AS (
      SELECT rnk, doc_id,
             CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) >= 3
                  THEN list_distinct(list_transform(
                    range(1, len(string_split_regex(trim(lower(text)), '\\s+')) - 2 + 1),
                    i -> array_to_string(list_slice(
                           string_split_regex(trim(lower(text)), '\\s+'), i, i + 2), ' ')))
                  ELSE [] END AS shingles
      FROM cand
    ),
    dropped AS (
      SELECT DISTINCT b.doc_id
      FROM sh a JOIN sh b ON a.rnk < b.rnk
      WHERE len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles)) > 0
        AND 2 * len(list_intersect(a.shingles, b.shingles))
              >= len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))
    ),
    keep AS (
      SELECT rnk, doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM cand
      WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        AND trim(lower(text)) <> ''
    ),
    chunks AS (
      SELECT rnk, doc_id,
             CAST((start - 1) // 64 AS INT) AS chunk_idx,
             CAST(least(64, len(toks) - start + 1) AS BIGINT) AS n_tokens
      FROM (
        SELECT rnk, doc_id, toks,
               unnest(range(1, greatest(len(toks), 1) + 1, 64)) AS start
        FROM keep
      )
    ),
    walked AS (
      SELECT rnk, doc_id, chunk_idx, n_tokens,
             CAST(SUM(n_tokens) OVER (
               ORDER BY rnk, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM chunks
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnk, chunk_idx) AS INT) AS position,
           doc_id, chunk_idx, n_tokens, cum_tokens
    FROM walked WHERE cum_tokens <= 512
    ORDER BY position
"""


@register("rag_context_assembly", _CTX_ASSEMBLY_SQL)
def rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG-serving composed flagship (the retrieval analog of
    llm_tokenize_pack): hybrid candidate generation (rag_rrf_fusion =
    BM25 + hash-embedding cosine fused by RRF) → fetch the candidates'
    text → near-dup prune WITHIN the shortlist (drop any candidate whose
    3-gram Jaccard vs a higher-ranked candidate is ≥ 0.5 — redundant
    context wastes the prompt budget) → 64-token chunking (same contract
    as chunk_documents) → greedy in-rank-order packing into a 512-token
    context window. Output: one row per selected chunk with its position
    and running token total — exactly what a serving layer concatenates.

    Scale shape: all corpus-scale work happens inside the two scorers'
    one-pass plans (see rag_bm25_topk / rag_hash_retrieval); the text
    fetch is one broadcast semi-join against the 10-row candidate list;
    everything after (pairwise Jaccard, chunk explode, prefix-sum walk)
    is bounded by the candidate list, so the single-partition windows in
    the epilogue are candidate-scale, never corpus-scale. The Jaccard
    threshold is restated in exact integers (2*|∩| >= |∪|) and every
    output column is an exact integer — no float leaves the plan.

    Reference scope note: composition beyond the reference surface (its
    pipeline ends at workbook delivery); built from the registry's own
    oracled primitives, replayed as one chained-CTE DuckDB statement."""
    from extract_permits_spark.functions.similarity import word_shingles

    rrf = rag_rrf_fusion(spark, sf_dir)
    wr = Window.orderBy(F.col("rrf").desc(), "doc_id")
    ranked = rrf.select("doc_id", F.row_number().over(wr).alias("rnk"))
    # `ranked` has exactly ONE consumer (the cand lookup join below —
    # the final rank re-attach joins the checkpointed `cand` instead),
    # so the whole scorer pipeline evaluates once inside cand's
    # checkpoint and ranked needs no materialization of its own (r13:
    # was a second lazy checkpoint = one more job floor).

    d = load_table(spark, sf_dir, "documents")
    # The .limit(10) is a no-op by construction (ranked is the fused
    # top-10 and doc_id is the documents primary key, so the lookup join
    # returns ≤ 10 rows) — it exists to carry the shortlist bound INTO
    # the plan: the epilogue's partition-less windows are provably
    # candidate-scale because a GlobalLimit sits on their input spine,
    # which the plan-quality detector (and AQE's stats) can see, where a
    # "unique-key lookup join of a bounded frame" cannot be statically
    # proven bounded.
    cand = (
        d.join(F.broadcast(ranked), "doc_id")
        .limit(10)
        .select("rnk", "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )
    # r16: NO checkpoint on cand — since the r13 array-program rewrite
    # it has exactly ONE consumer (the collect_list aggregate below), so
    # the old four-branch checkpoint only bought a full construction-
    # time planning pass (localCheckpoint's toRdd plans the entire
    # scorer subtree when the builder runs — profiled 1.5 s of the
    # row's 3.3 s construction) plus a checkpoint job at execution.
    # Measured A/B, same host, settled: median 3.54 → 2.97 s, min
    # 2.82 → 2.67 (guide §5: materialize only what is re-read).

    # --- bounded epilogue as ONE array program (r13, VERDICT ask #5) ---
    # The prune → chunk → pack tail operates on a frame PROVEN ≤10 rows
    # (the GlobalLimit above), yet as dataframe ops it cost ~20 AQE
    # stage/broadcast jobs of pure scheduling floor (measured: 29 jobs,
    # ~2.6 s at sf0.1, of which the scorers were 9). The candidate-scale
    # spelling is a single collect_list into ONE row and higher-order
    # array functions for the pairwise Jaccard prune, the 64-token
    # chunking, and the greedy 512-budget prefix walk — all JVM-side
    # codegen'd expressions, 3 stages total, and the array never holds
    # more than the 10 candidates' shingle sets. Semantics are
    # field-for-field the old join/window spelling (and the oracle CTE).
    from extract_permits_spark.functions.similarity import tokens

    cs_row = cand.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("rnk"),
                    F.col("doc_id"),
                    word_shingles(F.col("text")).alias("sh"),
                    tokens(F.col("text")).alias("toks"),
                )
            )
        ).alias("cs")
    )
    cs = F.col("cs")

    def _inter(x, y):
        return F.size(F.array_intersect(x["sh"], y["sh"]))

    def _union(x, y):
        return F.size(x["sh"]) + F.size(y["sh"]) - _inter(x, y)

    # dropped iff ANY higher-ranked candidate (dropped or not — same
    # non-transitive contract as the oracle's a JOIN b ON a.rnk < b.rnk)
    # has 3-gram Jaccard ≥ 0.5, stated in exact integers
    is_dropped = lambda x: F.exists(  # noqa: E731
        cs,
        lambda y: (y["rnk"] < x["rnk"])
        & (_union(x, y) > F.lit(0))
        & (F.lit(2) * _inter(x, y) >= _union(x, y)),
    )
    kept = F.filter(cs, lambda x: (~is_dropped(x)) & (F.size(x["toks"]) > 0))

    # 64-token chunks, exactly chunk_documents(chunk_tokens=64, overlap=0):
    # starts 1, 65, ... capped at the last in-range start
    def _chunks_of(x):
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(x["toks"]), F.lit(1)), F.lit(64)
        )
        return F.transform(
            starts,
            lambda s, i: F.struct(
                x["doc_id"].alias("doc_id"),
                i.cast("int").alias("chunk_idx"),
                F.least(F.lit(64), F.size(x["toks"]) - s + 1)
                .cast("long")
                .alias("n_tokens"),
            ),
        )

    flat = F.flatten(F.transform(kept, _chunks_of))
    # greedy in-rank-order pack: running token total, keep cum ≤ 512
    zero = F.struct(
        F.lit(0).cast("long").alias("tot"),
        F.array().cast(
            "array<struct<doc_id:bigint,chunk_idx:int,"
            "n_tokens:bigint,cum_tokens:bigint>>"
        ).alias("out"),
    )
    packed = F.aggregate(
        flat,
        zero,
        lambda acc, c: F.struct(
            (acc["tot"] + c["n_tokens"]).alias("tot"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        c["doc_id"].alias("doc_id"),
                        c["chunk_idx"].alias("chunk_idx"),
                        c["n_tokens"].alias("n_tokens"),
                        (acc["tot"] + c["n_tokens"]).alias("cum_tokens"),
                    )
                ),
            ).alias("out"),
        ),
        lambda acc: F.filter(acc["out"], lambda r: r["cum_tokens"] <= 512),
    )
    ex = cs_row.select(F.posexplode(packed).alias("pos", "r"))
    return ex.select(
        (F.col("pos") + 1).cast("int").alias("position"),
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.chunk_idx").alias("chunk_idx"),
        F.col("r.n_tokens").alias("n_tokens"),
        F.col("r.cum_tokens").alias("cum_tokens"),
    )


@register(
    "docs_snapshot_diff",
    """
    WITH v1 AS (
      SELECT doc_id, md5(COALESCE(text, '')) AS h
      FROM documents WHERE doc_id % 5 <> 0
    ),
    v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0
                      THEN COALESCE(text, '') || ' [rev2]'
                      ELSE COALESCE(text, '') END) AS h
      FROM documents WHERE doc_id % 7 <> 0
    )
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.h <> v2.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    """,
)
def docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot delta: classify every document across two corpus
    snapshots as added / removed / changed / unchanged by content hash
    — the daily-ingest primitive that decides what re-enters the dedup
    and embedding pipelines. The two snapshots are derived
    deterministically from the fixture (v1 drops doc_id%5==0, v2 drops
    %7==0 and revises %3==0) so both engines diff identical inputs.

    Scale shape: one md5 per row per side (narrow, codegen'd), one
    full-outer hash join on the id — at 100 TB both snapshots shuffle
    once on doc_id (or zero times if both are bucketed/partitioned by
    id, the layout a daily differ would keep); content comparison rides
    the join as a 16-byte residual, never a text compare."""
    d = load_table(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    v1 = d.where(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("id1"), F.md5(txt.cast("binary")).alias("h1")
    )
    txt2 = F.when(F.col("doc_id") % 3 == 0, F.concat(txt, F.lit(" [rev2]"))).otherwise(
        txt
    )
    v2 = d.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("id2"), F.md5(txt2.cast("binary")).alias("h2")
    )
    joined = v1.join(v2, v1.id1 == v2.id2, "full_outer")
    return joined.select(
        F.coalesce("id1", "id2").alias("doc_id"),
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


# Classic decision-support surface (adapted TPC-H Q4/Q7/Q8/Q9/Q14/Q17/
# Q18/Q19/Q21/Q22) registers itself on import; lives in its own module
# to keep this one navigable.
from extract_permits_spark.plans import tpch_extra as _tpch_extra  # noqa: E402,F401


@register(
    "ev_gap_fill",
    """
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      FROM bounds
    ),
    j AS (
      SELECT s.user_id, s.day, d.cents
      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    ),
    f AS (
      SELECT user_id, day, cents,
        last_value(cents IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
        last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(cents IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
        first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           round((CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                  ELSE CAST(pc AS DOUBLE)
                       + CAST(nc - pc AS DOUBLE)
                         * (CAST(date_diff('day', pd, day) AS DOUBLE)
                            / CAST(date_diff('day', pd, nd) AS DOUBLE))
                  END) / 100.0, 6) AS daily_value,
           cents IS NULL AS interpolated
    FROM f
    """,
)
def ev_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with linear interpolation, per user over a
    daily spine (the feature-engineering step before any model sees an
    irregular signal). Spine = sequence(min_day, max_day) per user —
    bounded fan-out, exploded narrow, never a global calendar cross
    join. Prev/next anchors come from last/first IGNORE NULLS windows
    over the same user-day shuffle (one exchange total for both
    directions + the join).

    Exact integer core: daily totals in BIGINT cents; the interpolation
    `pc + (nc - pc) * (Δprev / Δspan)` is evaluated in the identical
    operation order on both engines (int-to-double conversions are
    exact, IEEE ops are deterministic), then rounded to 6dp once."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(
        "user_id", F.date_trunc("DAY", "ts").alias("day")
    ).agg(F.sum(cents).alias("cents"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("day"),
        )
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    wp = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    marked_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    pc = F.last("cents", ignorenulls=True).over(wp)
    pd_ = F.last(marked_day, ignorenulls=True).over(wp)
    nc = F.first("cents", ignorenulls=True).over(wn)
    nd = F.first(marked_day, ignorenulls=True).over(wn)
    frac = F.datediff(F.col("day"), pd_).cast("double") / F.datediff(
        nd, pd_
    ).cast("double")
    filled = F.when(
        F.col("cents").isNotNull(), F.col("cents").cast("double")
    ).otherwise(pc.cast("double") + (nc - pc).cast("double") * frac)
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(filled / F.lit(100.0), 6).alias("daily_value"),
        F.col("cents").isNull().alias("interpolated"),
    )


@register(
    "ev_entropy",
    """
    WITH tc AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           round(-(SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))))
                   / SUM(c) + ln(SUM(c)), 6) AS type_entropy,
           CAST(SUM(c) AS BIGINT) AS n_events
    FROM tc GROUP BY user_id
    """,
)
def ev_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity metric corpus curation uses to separate bots
    (entropy ~0, one action repeated) from organic sessions. Algebraic
    identity H = ln N − (Σ c·ln c)/N keeps it a single mergeable
    aggregate over exact integer counts: two shuffles total (type
    counts, then per-user fold), no per-row probability column. The only
    floats are ln() of exact ints folded over ≤5 terms, rounded to 6dp —
    cross-engine-stable."""
    e = load_table(spark, sf_dir, "events")
    tc = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    cd = F.col("c").cast("double")
    return tc.groupBy("user_id").agg(
        F.round(
            -(F.sum(cd * F.log(cd)) / F.sum("c")) + F.log(F.sum("c")), 6
        ).alias("type_entropy"),
        F.sum("c").cast("bigint").alias("n_events"),
    )


@register(
    "a12_winsorize",
    """
    WITH q AS (
      SELECT c_mktsegment AS seg,
             quantile_cont(c_acctbal, 0.05) AS p05,
             quantile_cont(c_acctbal, 0.95) AS p95
      FROM customer GROUP BY 1
    )
    SELECT seg,
           round(p05, 6) AS p05,
           round(p95, 6) AS p95,
           CAST(COUNT(*) FILTER (WHERE c_acctbal < p05 OR c_acctbal > p95)
                AS BIGINT) AS n_clipped,
           CAST(SUM(CAST(
                 CAST(round(100 * CASE WHEN c_acctbal < p05 THEN p05
                                       WHEN c_acctbal > p95 THEN p95
                                       ELSE c_acctbal END) AS BIGINT)
                 AS DECIMAL(18,0))) AS DOUBLE) / 100.0 AS winsorized_total
    FROM customer JOIN q ON c_mktsegment = seg
    GROUP BY seg, p05, p95
    """,
)
def a12_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clip to [p05, p95]) — the outlier
    treatment quality-score pipelines apply before averaging. Exact
    linear-interpolation percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`) computed per segment in one aggregate, broadcast
    back over the stream (5-row join side), clip as a CASE expression.
    The clipped total is summed in BIGINT cents (clip bounds rounded to
    cents first) so the aggregate stays associative and exact."""
    c = load_table(spark, sf_dir, "customer")
    q = F.broadcast(
        c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
            F.percentile("c_acctbal", F.lit(0.05)).alias("p05"),
            F.percentile("c_acctbal", F.lit(0.95)).alias("p95"),
        )
    )
    bal = F.col("c_acctbal")
    clipped = (
        F.when(bal < F.col("p05"), F.col("p05"))
        .when(bal > F.col("p95"), F.col("p95"))
        .otherwise(bal)
    )
    cents = F.round(F.lit(100) * clipped).cast("bigint").cast("decimal(18,0)")
    return (
        c.join(q, c.c_mktsegment == F.col("seg"))
        .groupBy("seg", "p05", "p95")
        .agg(
            F.sum(((bal < F.col("p05")) | (bal > F.col("p95"))).cast("bigint"))
            .cast("bigint")
            .alias("n_clipped"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("winsorized_total"),
        )
        .select(
            "seg",
            F.round("p05", 6).alias("p05"),
            F.round("p95", 6).alias("p95"),
            "n_clipped",
            "winsorized_total",
        )
    )


@register(
    "u4_except_all",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus IN ('O', 'P')
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def u4_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity-aware difference — the set
    EXCEPT that u3/j2 cover would collapse duplicates). Spark plans
    exceptAll as a count-tagged union + generate (one shuffle), never a
    per-row correlated probe."""
    o = load_table(spark, sf_dir, "orders")
    left = o.where(F.col("o_orderstatus").isin("O", "P")).select("o_custkey")
    right = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return left.exceptAll(right)


def _bpe_encode_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    """DuckDB replay of BPE ENCODING as sequential merge application:
    the same per-round CTE chain as the trainer's oracle, with `word`
    carried through so the final representation maps each vocabulary
    word to its token sequence. Hash-matching this against the Spark
    side's rank-priority encoder (functions/bpe.py) is an empirical
    proof of the two formulations' equivalence on the corpus."""
    parts = [
        """WITH wf AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    w0 AS MATERIALIZED (
      SELECT word,
             array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> '<' || substr(word, i, 1) || '>'), '') AS repr,
             freq
      FROM wf
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    p{r} AS MATERIALIZED (
      SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, unnest(list_transform(
                 range(1, len(string_split(trim(repr, '<>'), '><'))),
                 j -> '<' || string_split(trim(repr, '<>'), '><')[j]
                      || '><' || string_split(trim(repr, '<>'), '><')[j + 1] || '>'
               )) AS p
        FROM w{r - 1}
        WHERE len(string_split(trim(repr, '<>'), '><')) >= 2
      ) GROUP BY p ORDER BY cnt DESC, p LIMIT 1
    ),
    w{r} AS MATERIALIZED (
      SELECT word,
             replace(repr, (SELECT p FROM p{r}),
                     (SELECT '<' || replace(replace(p, '<', ''), '>', '') || '>'
                      FROM p{r})) AS repr,
             freq
      FROM w{r - 1}
    )"""
        )
    parts.append(
        f"""
    SELECT word,
           CAST(len(string_split(trim(repr, '<>'), '><')) AS BIGINT) AS n_syms,
           array_to_string(string_split(trim(repr, '<>'), '><'), '|') AS token_str
    FROM w{rounds}"""
    )
    return "".join(parts)


@register("vocab_bpe_encode", _bpe_encode_oracle_sql())
def vocab_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION over the corpus vocabulary: train the
    8-round merge table (reusing vocab_bpe_train's distributed loop),
    then encode every distinct word with the rank-priority encoder
    (functions/bpe.py, Arrow-batched mapInPandas). The oracle replays
    encoding as SEQUENTIAL merge application — the hash match proves
    the two classic BPE formulations equivalent on this corpus, token
    string by token string.

    Scale shape: encoding runs on the VOCABULARY (distinct words), not
    the word stream — the deployment pattern that makes a 50k-merge
    tokenizer affordable at 100 TB (vocab-scale Python, corpus-scale
    work stays a join). The 8-row merge table on the driver is bounded
    state, same class as the k-means centroids."""
    from extract_permits_spark.functions.bpe import encode_words
    from extract_permits_spark.functions.similarity import tokens

    merges_pdf = (
        vocab_bpe_train(spark, sf_dir)
        .orderBy("round")
        .select("pair_a", "pair_b")
        .toPandas()  # 8 rows — bounded driver state by construction
    )
    merges = list(zip(merges_pdf["pair_a"], merges_pdf["pair_b"]))
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    enc = encode_words(vocab, merges)
    return enc.select(
        "word",
        F.size("tokens").cast("bigint").alias("n_syms"),
        F.concat_ws("|", "tokens").alias("token_str"),
    )


@register(
    "docs_unigram_xent",
    """
    WITH words AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) AS word
      FROM documents
    ),
    w AS (SELECT doc_id, word FROM words WHERE word <> ''),
    uni AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY word
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           round(-sum(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
                 / count(*), 6) AS xent
    FROM w JOIN uni USING (word) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def docs_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    unigram model — the perplexity-filter shape (CCNet/Gopher style):
    documents whose words are corpus-atypical score high and get culled.
    Exact integer counts feed the model; ln() of exact ratios is the
    only float, folded per document and rounded once. The unigram model
    is corpus-scale aggregated ONCE and joined back (broadcast at real
    vocab sizes ~10^6); never a per-document vocabulary pass."""
    from extract_permits_spark.functions.similarity import tokens

    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    uni = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    return (
        w.join(F.broadcast(uni), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.round(-F.sum(F.log(p)) / F.count(F.lit(1)), 6).alias("xent"),
        )
    )


@register(
    "docs_quality_score",
    """
    WITH feats AS (
      SELECT doc_id,
             CAST(length(COALESCE(text, '')) AS DOUBLE) AS len_chars,
             CAST(len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+'))
                  AS DOUBLE) AS n_words,
             CAST(length(COALESCE(text,''))
                  - length(replace(replace(replace(COALESCE(text,''),
                            '.', ''), ',', ''), '!', '')) AS DOUBLE) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(
             -2.0 + 0.004 * len_chars + 0.02 * n_words - 0.1 * n_punct
           ))), 6) AS quality,
           CASE WHEN 1.0 / (1.0 + exp(-(
             -2.0 + 0.004 * len_chars + 0.02 * n_words - 0.1 * n_punct
           ))) >= 0.5 THEN 'keep' ELSE 'cull' END AS verdict
    FROM feats
    """,
)
def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference as columnar math: a logistic quality classifier
    with FIXED published weights (the fasttext-filter deployment shape —
    weights are artifacts, not data) over engineered text features.
    Entirely whole-stage-codegen expressions: at 100 TB this is a narrow
    map over the scan, no shuffle, no Python. The same closed form runs
    on both engines; one 6dp round after the sigmoid."""
    d = load_table(spark, sf_dir, "documents")
    score = _quality_sigmoid(F.coalesce(F.col("text"), F.lit("")))
    return d.select(
        "doc_id",
        F.round(score, 6).alias("quality"),
        F.when(score >= 0.5, "keep").otherwise("cull").alias("verdict"),
    )


@register(
    "docs_quality_prune",
    """
    WITH feats AS (
      SELECT doc_id, source,
             CAST(length(COALESCE(text, '')) AS DOUBLE) AS len_chars,
             CAST(len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+'))
                  AS DOUBLE) AS n_words,
             CAST(length(COALESCE(text,''))
                  - length(replace(replace(replace(COALESCE(text,''),
                            '.', ''), ',', ''), '!', '')) AS DOUBLE) AS n_punct
      FROM documents
    ),
    q AS (
      SELECT doc_id, source,
             round(1.0 / (1.0 + exp(-(
               -2.0 + 0.004 * len_chars + 0.02 * n_words - 0.1 * n_punct
             ))), 6) AS quality
      FROM feats
    )
    SELECT doc_id, source, quality FROM (
      SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM q
    )
    WHERE rn <= CAST(ceil(0.3 * n) AS BIGINT)
    """,
)
def docs_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality pruning, the FineWeb/DCLM selection step: keep the top
    30% of documents PER SOURCE by the fixed-weight logistic quality
    score (docs_quality_score's classifier — per-source quotas stop a
    high-quality-on-average source from crowding out the others). The
    6dp-rounded score with a doc_id tiebreak makes the cut deterministic
    across engines and partitionings. One narrow scoring map, ONE
    shuffle on source, and both windows (rank + group count) share that
    single exchange; the 30%-of-group limit is row-count-dependent, so
    WindowGroupLimit does NOT apply (it needs a constant k) — a fixed
    per-source quota variant would get the map-side partial top-k, the
    documented trade for a relative cut."""
    d = load_table(spark, sf_dir, "documents")
    quality = F.round(
        _quality_sigmoid(F.coalesce(F.col("text"), F.lit(""))), 6
    )
    scored = d.select("doc_id", "source", quality.alias("quality"))
    # distributed_group_rank, not a per-source window (r12): a source is
    # a HUGE group at corpus scale — the window gives each source one
    # reducer sorting the whole group; the range-partitioned group rank
    # spreads every source across many tasks (operators/windows.py).
    ranked = distributed_group_rank(
        scored,
        ["source"],
        [F.col("quality").desc(), F.col("doc_id")],
        "rn",
        total_col="n",
    )
    return ranked.where(
        F.col("rn") <= F.ceil(F.lit(0.3) * F.col("n")).cast("long")
    ).select("doc_id", "source", "quality")


@register(
    "docs_domain_mix",
    """
    WITH toks AS (
      SELECT doc_id, source,
             CASE WHEN trim(lower(COALESCE(text,''))) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+'))
             END AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM documents
    ),
    walked AS (
      SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks,
             CAST(SUM(n_toks) OVER (
               PARTITION BY source ORDER BY pri, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_toks
      FROM toks
    )
    SELECT source, doc_id, n_toks, cum_toks
    FROM walked WHERE cum_toks <= 600
    ORDER BY source, cum_toks
    """,
)
def docs_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing sampler (the Pile/DoReMi-style per-source token
    budget): draw a uniformly-shuffled sample from EVERY source until
    that source's token budget (600 here — ~45% of a fixture source, so the cut is exercised) is filled — equal token
    budgets rebalance a corpus whose sources differ wildly in size.
    The shuffle order is md5(doc_id) (deterministic, engine-neutral,
    uncorrelated with content), and the take is the prefix whose
    running token total stays within budget.

    Shape: one narrow token-count map, ONE shuffle on source, one
    running-sum window, one filter. Per-source state is a single
    cumulative counter — no driver-side sampling loop, no second pass.
    At 100 TB: the window is per-source-partition sequential, so skewed
    giant sources bound the tail; the standard scale-out is budget
    sharding (split each source's budget over k salted sub-partitions),
    which this plan admits without restructuring."""
    from extract_permits_spark.operators.windows import (
        distributed_group_cumsum,
    )

    d = load_table(spark, sf_dir, "documents")
    t = F.trim(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    n_toks = (
        F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    ).cast("long")
    pri = F.md5(F.col("doc_id").cast("string"))
    # distributed_group_cumsum, not a per-source running-sum window
    # (r14, the follow-up r12e designated): a source is a HUGE group at
    # corpus scale and a cumulative window hands it to ONE reducer;
    # the distributed spelling splits cum into broadcast range-partition
    # offsets + a bounded (partition, source)-cell running sum
    # (operators/windows.py). Bit-identical: integer token counts under
    # the same (pri, doc_id) total order.
    walked = distributed_group_cumsum(
        d.select("source", "doc_id", n_toks.alias("n_toks"), pri.alias("_pri")),
        ["source"],
        [F.col("_pri"), F.col("doc_id")],
        "n_toks",
        "cum_toks",
    ).drop("_pri")
    return walked.where(F.col("cum_toks") <= 600).select(
        "source", "doc_id", "n_toks", "cum_toks"
    ).orderBy("source", "cum_toks")


@register(
    "ann_batch_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(
               list_sum(list_transform(range(1, 65),
                        i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
               / (sqrt(list_sum(list_transform(range(1, 65),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))),
               6) AS cosine_sim
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim FROM ranked WHERE rn <= 20
    """,
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact retrieval: top-20 per query for a BATCH of query
    vectors in one corpus pass — the serving shape (RAG retrieval runs
    thousands of queries per batch, never one scan per query). The
    query set broadcasts (bounded fan-out = corpus x n_queries rows,
    all narrow); the per-query top-k is a rank-limit window, which
    Spark executes as WindowGroupLimit — per-partition top-k heaps
    BEFORE the exchange, so the shuffle carries ~n_queries x k rows,
    not the scored corpus. Ordering on the ROUNDED similarity + id on
    both engines keeps tie-breaks hash-stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    scored = emb.crossJoin(q).select(
        "query_id",
        "vec_id",
        F.round(simfn.cosine(F.col("embedding"), F.col("qv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("query_id", "vec_id", "cosine_sim")
    )


@register(
    "x8_schema_evolution_union",
    """
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority,
           'v1' AS shard_ver
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice, o_orderpriority,
           'v2' AS shard_ver
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def x8_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution harmonization: shards written at different
    pipeline versions carry different column sets; the union fills the
    missing columns with NULL instead of failing or silently dropping
    data (`unionByName(allowMissingColumns=True)` — the ingestion shape
    for a corpus whose schema grew over time). Narrow on both branches;
    at 100 TB this is scan-cost only."""
    o = load_table(spark, sf_dir, "orders")
    v1 = (
        o.where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
        .withColumn("shard_ver", F.lit("v1"))
    )
    v2 = (
        o.where(F.col("o_orderstatus") == "O")
        .select("o_orderkey", F.col("o_orderpriority").cast("string"))
        .withColumn("shard_ver", F.lit("v2"))
    )
    return v1.unionByName(v2, allowMissingColumns=True).select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "shard_ver"
    )


@register(
    "mm_image_stats",
    """
    WITH imgs AS (
        SELECT doc_id AS media_id,
               8 + (doc_id % 5) * 4 AS width,
               8 + (doc_id % 7) * 2 AS height,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS BIGINT) AS channels
        FROM documents
    ),
    sums AS (
        SELECT i.media_id, i.width, i.height, i.channels, c.c,
               SUM((i.media_id + 7 * x.x + 13 * y.y + 101 * c.c) % 256) AS s
        FROM imgs i,
             generate_series(0, 23) AS x(x),
             generate_series(0, 19) AS y(y),
             (VALUES (0), (1), (2)) AS c(c)
        WHERE x.x < i.width AND y.y < i.height
        GROUP BY i.media_id, i.width, i.height, i.channels, c.c
    )
    SELECT media_id, width, height, channels,
           width * height AS n_pixels,
           CAST(MAX(CASE WHEN c = 0 THEN s END) AS DOUBLE) / (width * height) AS r_mean,
           CAST(MAX(CASE WHEN c = 1 THEN s END) AS DOUBLE) / (width * height) AS g_mean,
           CAST(MAX(CASE WHEN c = 2 THEN s END) AS DOUBLE) / (width * height) AS b_mean
    FROM sums
    GROUP BY media_id, width, height, channels
    """,
)
def mm_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable image decode: one real PNG per document (deterministic
    pixels, stdlib encoder cycling all five scanline filters), decoded
    back with the pure-stdlib PNG codec (zlib inflate + unfilter,
    functions/png_codec.py) inside Arrow-batched mapInPandas, emitting
    per-image width/height/channels and exact-sum channel means.

    The oracle never sees a PNG byte: it recomputes the expected channel
    sums in closed form from the shared pixel formula, so a hash match
    proves the whole encode -> filter -> deflate -> inflate -> unfilter
    chain is bit-faithful. Both mapInPandas stages are narrow (no
    shuffle); at 100 TB this is the scrape-ingest decode shape — scan +
    per-item Python, Arrow-batched, metadata pruned out of the worker.
    Ref: the reference has no multimodal surface (SURVEY §2.11); this is
    north-star capability."""
    d = load_table(spark, sf_dir, "documents")
    media = mmfn.synthetic_png_media(d)
    return mmfn.image_stats(media)


@register(
    "mm_decode_quarantine",
    """
    SELECT doc_id AS media_id,
           doc_id % 13 <> 0 AS ok,
           CASE WHEN doc_id % 13 = 0 THEN 'truncated' END AS err_kind
    FROM documents
    """,
)
def mm_decode_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corrupt-blob rail, end-to-end: every 13th payload is
    deterministically truncated (last 5 bytes dropped — clips the IEND
    chunk, which the codec's chunk-walk reports as a truncation
    ValueError), then the whole corpus flows through the per-item
    try/except quarantine decode (functions/multimodal.py:
    decode_quarantine). The oracle is closed-form — it knows exactly
    which rows were corrupted and what bucket the codec must assign —
    so a hash match proves the rail neither drops, misclassifies, nor
    lets a bad payload near the job's fate. At 100 TB this is the
    difference between a scrape-decode job that finishes with a
    quarantine table and one that dies at task 1,999,731."""
    d = load_table(spark, sf_dir, "documents")
    media = mmfn.synthetic_png_media(d).select("media_id", "payload")
    corrupted = media.select(
        "media_id",
        F.when(
            F.col("media_id") % 13 == 0,
            F.expr("substring(payload, 1, length(payload) - 5)"),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    return mmfn.decode_quarantine(corrupted)


@register(
    "mm_audio_stats",
    """
    WITH auds AS (
        SELECT doc_id AS media_id,
               8000 + (doc_id % 3) * 4000 AS sample_rate,
               CAST(1 + (doc_id % 2) AS BIGINT) AS channels,
               256 + (doc_id % 7) * 64 AS n_frames
        FROM documents
    ),
    samp AS (
        SELECT a.media_id, a.sample_rate, a.channels, a.n_frames,
               ((a.media_id * 17 + i.i * 31) % 65536) - 32768 AS s
        FROM auds a, generate_series(0, 1279) AS i(i)
        WHERE i.i < a.n_frames * a.channels
    )
    SELECT media_id, sample_rate, channels, n_frames,
           CAST(n_frames * 1000 AS DOUBLE) / sample_rate AS duration_ms,
           CAST(SUM(s) AS DOUBLE) / (n_frames * channels) AS mean_amp,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_amp
    FROM samp
    GROUP BY media_id, sample_rate, channels, n_frames
    """,
)
def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable audio decode, sibling of mm_image_stats: one real PCM
    WAV per document (deterministic samples, stdlib RIFF encoder),
    decoded back with the pure-stdlib codec (functions/wav_codec.py)
    inside Arrow-batched mapInPandas, emitting stream shape +
    duration/mean/peak amplitude. The oracle recomputes expected sums
    in closed form from the shared sample formula — a hash match proves
    the RIFF chunk-walk + PCM unpack bit-faithful. Both stages narrow,
    no shuffle. Ref: reference has no audio surface; north-star
    capability (SURVEY §2.11)."""
    d = load_table(spark, sf_dir, "documents")
    return mmfn.audio_stats(mmfn.synthetic_wav_media(d))


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncated-dimension ANN: coarse search in a prefix of
# the embedding space, exact rerank of the shortlist only. The serving
# pattern for matryoshka-trained embeddings — corpus-scale work touches
# 16 of 64 dims (4x less compute+bandwidth per scanned row), full-dim
# cosine runs on the 100-row shortlist alone.
# ---------------------------------------------------------------------------

_MRL_Q16 = """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ), coarse AS (
      SELECT vec_id,
             round(
               list_sum(list_transform(range(1, 17),
                        i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
               / (sqrt(list_sum(list_transform(range(1, 17),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 17), i -> q.qv[i] * q.qv[i])))),
               6) AS sim16
      FROM embeddings e, q
    )
"""


@register(
    "ann_matryoshka_topk",
    _MRL_Q16
    + """
    SELECT vec_id, sim16 AS cosine_sim
    FROM coarse
    ORDER BY sim16 DESC, vec_id
    LIMIT 20
    """,
)
def ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse top-k in the 16-dim PREFIX of the 64-dim embedding space
    (Kusupati et al., "Matryoshka Representation Learning", NeurIPS'22 —
    public). One narrow scan over sliced vectors + TakeOrderedAndProject;
    per-row cost is 1/4 of full-dim, no shuffle. The quality cost is
    measured by ann_matryoshka_recall; the funnel that recovers it is
    ann_matryoshka_rerank."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ][:16]
    trunc = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    return simfn.brute_force_topk(trunc, qvec, k=20)


@register(
    "ann_matryoshka_rerank",
    _MRL_Q16
    + """
    , shortlist AS (
      SELECT vec_id FROM coarse ORDER BY sim16 DESC, vec_id LIMIT 100
    )
    SELECT e.vec_id,
           round(
             list_sum(list_transform(range(1, 65),
                      i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
             / (sqrt(list_sum(list_transform(range(1, 65),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))),
             6) AS cosine_sim
    FROM embeddings e
    JOIN shortlist s ON e.vec_id = s.vec_id, q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 20
    """,
)
def ann_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MRL serving funnel: 16-dim coarse scan -> 100-row shortlist ->
    full-dim exact rerank -> top-20. Corpus-scale work is the truncated
    scan only; the full 64-dim cosine runs on 100 rows via a broadcast
    semi-join back to the corpus. At 100 TB this is the difference
    between streaming 16 and 64 floats per scanned row — the shortlist
    rerank cost is constant.

    Honesty note: the fixture embeddings are RANDOM, the adversarial
    case for truncation (prefix dims carry only 16/64 of the signal;
    recall ~0.2, see ann_matryoshka_recall + test_recall.py). Trained
    MRL embeddings concentrate information in the prefix and sit near
    recall 1.0 — the entries verify the MACHINERY and measure honestly
    on the fixture."""
    emb = load_table(spark, sf_dir, "embeddings")
    qfull = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    trunc = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    shortlist = simfn.brute_force_topk(trunc, qfull[:16], k=100).select("vec_id")
    qcol = F.array(*[F.lit(float(x)) for x in qfull])
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            F.round(simfn.cosine(F.col("embedding"), qcol), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.col("vec_id"))
        .limit(20)
    )


@register(
    "ann_matryoshka_recall",
    _MRL_Q16
    + """
    , coarse20 AS (
      SELECT vec_id FROM coarse ORDER BY sim16 DESC, vec_id LIMIT 20
    ),
    exact20 AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               round(
                 list_sum(list_transform(range(1, 65),
                          i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                    * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))),
                 6) AS sim
        FROM embeddings e, q
        ORDER BY sim DESC, vec_id
        LIMIT 20
      )
    )
    SELECT CAST(20 AS INT) AS k,
           CAST(COUNT(*) AS DOUBLE) / 20 AS recall
    FROM exact20 x JOIN coarse20 c ON x.vec_id = c.vec_id
    """,
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@20 of the 16-dim coarse top-20 vs the exact 64-dim top-20 —
    the measured quality cost of 4x-truncation WITHOUT the rerank funnel
    (the rerank entry recovers exact@20 whenever the true top-20 sits
    inside the coarse top-100). Oracled as a full SQL replay of both
    rankings, so the recall VALUE must match."""
    emb = load_table(spark, sf_dir, "embeddings")
    qfull = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    trunc = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    return _ann_recall_frame(
        simfn.brute_force_topk(trunc, qfull[:16], k=20),
        simfn.brute_force_topk(emb, qfull, k=20),
        k=20,
    )


@register(
    "mm_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST(unnest(range(0,
                greatest(octet_length(encode(COALESCE(text,''))) - 1, 0) + 1,
                1024)) AS BIGINT) AS frame_offset
    FROM documents
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame-sampling plan shape over the binary media column:
    explode a stride of byte offsets per payload (stand-in for container
    pts indices — no video codec in this container, and the PLAN is what
    matters: narrow metadata-only explode, payload bytes untouched, so a
    100 TB scan reads the meta column and never the binary pages).
    Oracle is pure sequence arithmetic over the same lengths."""
    d = load_table(spark, sf_dir, "documents")
    media = mmfn.documents_as_media(d)
    return mmfn.frame_sample_plan(media, 1024)


@register(
    "docs_span_dup_rate",
    """
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(lower(COALESCE(text,''))), '\\s+') AS toks
      FROM documents
      WHERE trim(lower(COALESCE(text,''))) <> ''
    ),
    w AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 16 THEN (len(toks) - 16) // 8 + 1
                  ELSE 0 END AS nwin
      FROM t
    ),
    occ0 AS (
      -- per-row indices via the LIST form of generate_series (accepts
      -- column bounds; the table-function form is constants-only) — no
      -- fixed cap, any document length replays exactly
      SELECT doc_id, toks, unnest(generate_series(0, nwin - 1)) AS win_idx
      FROM w
    ),
    occ AS (
      SELECT doc_id, win_idx,
             md5(array_to_string(list_slice(toks, win_idx*8 + 1, win_idx*8 + 16), ' ')) AS whash
      FROM occ0
    ),
    own AS (
      SELECT whash, MIN(doc_id) AS owner, COUNT(DISTINCT doc_id) AS ndocs
      FROM occ GROUP BY whash
    )
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN m.ndocs > 1 AND o.doc_id <> m.owner
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
           CAST(SUM(CASE WHEN m.ndocs > 1 AND o.doc_id <> m.owner
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_rate
    FROM occ o JOIN own m ON o.whash = m.whash
    GROUP BY o.doc_id
    """,
)
def docs_span_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SPAN-level duplication rate — the window-granular
    form of exact-substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL'22 — public; their
    suffix-array substring match becomes 16-token windows at stride 8,
    the standard approximation when a distributed suffix array is not
    worth its build). Per doc: how many of its token windows also appear
    in an EARLIER doc (min-doc_id ownership, so exactly one copy of any
    span is never flagged).

    Shape: narrow window-hash explode (one md5 per window, codegen'd) →
    one groupBy on the 16-byte hash (inverted index, same class as
    winnowing) → one groupBy back per doc. No pairwise comparison
    anywhere; corpus-scale cost is ~n_tokens/8 hashed rows. The measure
    feeds span-level masking/removal downstream (the rate is the audit
    number a 100 TB curation run reports per source)."""
    toks = simfn.tokens("text")
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
    )
    n = F.size("toks")
    nwin = F.when(n >= 16, F.floor((n - F.lit(16)) / F.lit(8)).cast("int") + 1).otherwise(
        F.lit(0)
    )
    wins = F.when(
        nwin > 0,
        F.transform(
            F.sequence(F.lit(0), nwin - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i * 8 + 1, 16))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select("doc_id", F.posexplode(wins).alias("win_idx", "whash"))
    own = occ.groupBy("whash").agg(
        F.min("doc_id").alias("owner"),
        F.countDistinct("doc_id").alias("ndocs"),
    )
    dup = (F.col("ndocs") > 1) & (F.col("doc_id") != F.col("owner"))
    return (
        occ.join(own, "whash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(dup.cast("long")).alias("n_dup_windows"),
            (
                F.sum(dup.cast("long")).cast("double") / F.count(F.lit(1))
            ).alias("dup_rate"),
        )
    )


@register(
    "ann_matryoshka_mrr",
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    coarse AS (
      SELECT q.query_id, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY round(
                 list_sum(list_transform(range(1, 17),
                          i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
                 / (sqrt(list_sum(list_transform(range(1, 17),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                    * sqrt(list_sum(list_transform(range(1, 17), i -> q.qv[i] * q.qv[i])))),
                 6) DESC, e.vec_id
             ) AS coarse_rank
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    ),
    target AS (
      SELECT query_id, vec_id AS target_id FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(
                   list_sum(list_transform(range(1, 65),
                            i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65),
                            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))),
                   6) DESC, e.vec_id
               ) AS rnk
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
      ) WHERE rnk = 1
    )
    SELECT t.query_id, t.target_id,
           CAST(c.coarse_rank AS BIGINT) AS coarse_rank,
           1.0 / c.coarse_rank AS rr
    FROM target t
    JOIN coarse c ON c.query_id = t.query_id AND c.vec_id = t.target_id
    """,
)
def ann_matryoshka_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-eval metric for the truncated-dim ranking: per query in
    a 5-query batch, where does the TRUE (full-dim) nearest neighbor
    land in the 16-dim coarse ranking? rr = 1/rank; the batch mean is
    MRR — the standard serving-quality number alongside recall@k.
    Self-matches excluded on both sides. One corpus pass per ranking ×
    a broadcast query batch; per-query ranks are WindowGroupLimit-class
    windows over the batch partition (same shape as ann_batch_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    pool = emb.crossJoin(q).where(F.col("vec_id") != F.col("query_id"))
    sim16 = F.round(
        simfn.cosine(F.slice("embedding", 1, 16), F.slice("qv", 1, 16)), 6
    )
    sim64 = F.round(simfn.cosine(F.col("embedding"), F.col("qv")), 6)
    wc = Window.partitionBy("query_id").orderBy(sim16.desc(), F.col("vec_id"))
    we = Window.partitionBy("query_id").orderBy(sim64.desc(), F.col("vec_id"))
    ranked = pool.select(
        "query_id",
        "vec_id",
        F.row_number().over(wc).alias("coarse_rank"),
        F.row_number().over(we).alias("exact_rank"),
    )
    target = ranked.where(F.col("exact_rank") == 1).select(
        F.col("query_id").alias("t_query_id"), F.col("vec_id").alias("target_id")
    )
    return (
        ranked.join(
            target,
            (F.col("query_id") == F.col("t_query_id"))
            & (F.col("vec_id") == F.col("target_id")),
        )
        .select(
            "query_id",
            "target_id",
            F.col("coarse_rank").cast("long").alias("coarse_rank"),
            (F.lit(1.0) / F.col("coarse_rank")).alias("rr"),
        )
    )


@register(
    "docs_span_mask",
    """
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(lower(COALESCE(text,''))), '\\s+') AS toks
      FROM documents
      WHERE trim(lower(COALESCE(text,''))) <> ''
    ),
    w AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 16 THEN (len(toks) - 16) // 8 + 1
                  ELSE 0 END AS nwin
      FROM t
    ),
    occ0 AS (
      -- per-row indices via the LIST form of generate_series (accepts
      -- column bounds; the table-function form is constants-only) — no
      -- fixed cap, any document length replays exactly
      SELECT doc_id, toks, unnest(generate_series(0, nwin - 1)) AS win_idx
      FROM w
    ),
    occ AS (
      SELECT doc_id, win_idx,
             md5(array_to_string(list_slice(toks, win_idx*8 + 1, win_idx*8 + 16), ' ')) AS whash
      FROM occ0
    ),
    own AS (
      SELECT whash, MIN(doc_id) AS owner, COUNT(DISTINCT doc_id) AS ndocs
      FROM occ GROUP BY whash
    ),
    dupw AS (
      SELECT o.doc_id, o.win_idx
      FROM occ o JOIN own m ON o.whash = m.whash
      WHERE m.ndocs > 1 AND o.doc_id <> m.owner
    ),
    pos0 AS (
      SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS pos
      FROM w
    ),
    kept AS (
      SELECT p.doc_id, p.pos, p.toks[p.pos + 1] AS tok
      FROM pos0 p
      WHERE NOT EXISTS (
          SELECT 1 FROM dupw d
          WHERE d.doc_id = p.doc_id
            AND p.pos >= d.win_idx * 8 AND p.pos < d.win_idx * 8 + 16
        )
    )
    SELECT doc_id,
           COALESCE(string_agg(tok, ' ' ORDER BY pos), '') AS masked_text,
           -- COUNT(tok), not COUNT(*): a fully-masked doc survives the
           -- LEFT JOIN as one all-NULL row and must count 0 kept tokens
           CAST(COUNT(tok) AS BIGINT) AS n_kept_tokens
    FROM t LEFT JOIN kept USING (doc_id)
    GROUP BY doc_id
    """,
)
def docs_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-dedup ACTION (docs_span_dup_rate is the audit): remove
    every token covered by a cross-doc duplicated window (16-token
    windows, stride 8, min-doc_id ownership — the span's first
    appearance survives untouched) and reassemble the doc's remaining
    tokens in order.

    Shape: the window inverted index from the rate entry, then one
    flatten of dup windows to covered-position ranges, an anti-join of
    token positions against covered ranges (range predicate pushed into
    a single join condition — positions explode is ~n_tokens rows, the
    same scale as tokenization), and one ordered string_agg per doc.
    Everything hash-partitions on doc_id after the ownership groupBy;
    no pairwise work. Lee et al. ACL'22 is the public reference for
    dropping repeated spans rather than whole near-dup docs."""
    toks = simfn.tokens("text")
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
    )
    n = F.size("toks")
    nwin = F.when(n >= 16, F.floor((n - F.lit(16)) / F.lit(8)).cast("int") + 1).otherwise(
        F.lit(0)
    )
    wins = F.when(
        nwin > 0,
        F.transform(
            F.sequence(F.lit(0), nwin - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i * 8 + 1, 16))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select("doc_id", F.posexplode(wins).alias("win_idx", "whash"))
    own = occ.groupBy("whash").agg(
        F.min("doc_id").alias("owner"),
        F.countDistinct("doc_id").alias("ndocs"),
    )
    dupw = (
        occ.join(own, "whash")
        .where((F.col("ndocs") > 1) & (F.col("doc_id") != F.col("owner")))
        .select("doc_id", "win_idx")
    )
    # covered positions, deduped (windows overlap at stride < width)
    covered = dupw.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("win_idx") * 8, F.col("win_idx") * 8 + 15)
        ).alias("pos"),
    ).distinct()
    positions = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    kept = positions.join(covered, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("pos", "tok")))["tok"]).alias(
            "masked_text"
        ),
        F.count(F.lit(1)).alias("n_kept_tokens"),
    )
    return (
        base.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("masked_text", F.lit("")).alias("masked_text"),
            F.coalesce("n_kept_tokens", F.lit(0)).alias("n_kept_tokens"),
        )
    )


@register(
    "docs_corpus_report",
    _COMPONENT_EDGES_SQL
    + """
    , reach(id, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
      UNION
        SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
    ),
    comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
    cstats AS (
      SELECT CAST(COUNT(DISTINCT component) AS BIGINT) AS nc,
             CAST(COUNT(*) AS BIGINT) AS nm
      FROM comp
    ),
    st AS (
      SELECT doc_id,
             string_split_regex(trim(lower(COALESCE(text,''))), '\\s+') AS toks
      FROM documents
      WHERE trim(lower(COALESCE(text,''))) <> ''
    ),
    sw AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 16 THEN (len(toks) - 16) // 8 + 1
                  ELSE 0 END AS nwin
      FROM st
    ),
    soc0 AS (
      SELECT doc_id, toks, unnest(generate_series(0, nwin - 1)) AS win_idx
      FROM sw
    ),
    soc AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, win_idx*8 + 1, win_idx*8 + 16), ' ')) AS whash
      FROM soc0
    ),
    sown AS (
      SELECT whash, MIN(doc_id) AS owner, COUNT(DISTINCT doc_id) AS ndocs
      FROM soc GROUP BY whash
    ),
    sstats AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN m.ndocs > 1 AND o.doc_id <> m.owner
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS ndw
      FROM soc o JOIN sown m ON o.whash = m.whash
    ),
    tok AS (SELECT unnest(toks) AS t FROM st),
    tstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS tt,
             CAST(COUNT(DISTINCT t) AS BIGINT) AS dt
      FROM tok
    ),
    dstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(COUNT(*) - COUNT(DISTINCT md5(COALESCE(text,''))) AS BIGINT) AS ned
      FROM documents
    )
    SELECT nd AS n_docs,
           ned AS n_exact_dup_docs,
           nc AS n_neardup_clusters,
           nm AS n_docs_in_clusters,
           ndw AS n_span_dup_windows,
           tt AS total_tokens,
           dt AS distinct_tokens
    FROM dstats, cstats, sstats, tstats
    """,
)
def docs_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus report card a curation run prints before
    training: doc count, exact-dup docs, near-dup clusters + membership,
    cross-doc duplicated span windows, total and distinct tokens. Every
    number composes independently-oracled machinery (exact-collapse
    components, span window index, tokenization) and the COMPOSITION is
    hash-checked — one DuckDB replay recomputes all seven.

    Shape: five 1-row aggregates cross-joined (each a broadcast scalar —
    bounded state by construction). The expensive members (components,
    span index, distinct tokens) are each single-shuffle plans; nothing
    here is worse than its standalone entry."""
    d = load_table(spark, sf_dir, "documents")
    dstats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.count(F.lit(1))
            - F.countDistinct(F.md5(F.coalesce(F.col("text"), F.lit(""))))
        ).alias("n_exact_dup_docs"),
    )
    comp = _components_cached(spark, sf_dir)
    cstats = comp.agg(
        F.countDistinct("component").alias("n_neardup_clusters"),
        F.count(F.lit(1)).alias("n_docs_in_clusters"),
    )
    toks = simfn.tokens("text")
    base = d.select("doc_id", toks.alias("toks")).where(F.size("toks") > 0)
    n = F.size("toks")
    nwin = F.when(n >= 16, F.floor((n - F.lit(16)) / F.lit(8)).cast("int") + 1).otherwise(
        F.lit(0)
    )
    wins = F.when(
        nwin > 0,
        F.transform(
            F.sequence(F.lit(0), nwin - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i * 8 + 1, 16))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select("doc_id", F.explode(wins).alias("whash"))
    own = occ.groupBy("whash").agg(
        F.min("doc_id").alias("owner"), F.countDistinct("doc_id").alias("ndocs")
    )
    sstats = (
        occ.join(own, "whash")
        .agg(
            F.coalesce(
                F.sum(
                    ((F.col("ndocs") > 1) & (F.col("doc_id") != F.col("owner"))).cast(
                        "long"
                    )
                ),
                F.lit(0),
            ).alias("n_span_dup_windows")
        )
    )
    tok = base.select(F.explode("toks").alias("t"))
    tstats = tok.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("t").alias("distinct_tokens"),
    )
    # four 1-row frames x broadcast cross join = bounded driver state
    return (
        dstats.crossJoin(F.broadcast(cstats))
        .crossJoin(F.broadcast(sstats))
        .crossJoin(F.broadcast(tstats))
        .select(
            "n_docs",
            "n_exact_dup_docs",
            "n_neardup_clusters",
            "n_docs_in_clusters",
            "n_span_dup_windows",
            "total_tokens",
            "distinct_tokens",
        )
    )


@register(
    "stream_corpus_ingest",
    """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JSONL corpus ingest (streaming/corpus_ingest.py): the
    documents table is written out as JSONL shards PLUS a poison shard
    of garbage/`null` lines, then drained through Structured Streaming
    (file source -> schema-explicit from_json -> clean/quarantine split
    -> availableNow). The entry returns the CLEAN rail; the oracle is
    the batch documents table itself, so any quarantine leak (a corrupt
    line surviving as an all-null row, or a clean row misrouted)
    hash-mismatches. The poison shard's 3 lines are asserted into the
    quarantine table in tests/test_streaming.py."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from extract_permits_spark.sinks.corpus_io import write_jsonl_corpus
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
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    work = scratch_dir("corpus_stream_")
    try:
        src = os.path.join(work, "in")
        write_jsonl_corpus(d.repartition(4), src, compression=None)
        with open(os.path.join(src, "poison.json"), "w") as f:
            f.write("this is not json\nnull\n{\"doc_id\": \"not a long\"\n")
        tag = abs(hash(sf_dir)) % 10**8
        clean_t, bad_t = f"corpus_clean_{tag}", f"corpus_bad_{tag}"
        qc, qb = run_ingest_available_now(
            spark, src, os.path.join(work, "ckpt"), schema, clean_t, bad_t
        )
        await_or_raise(qc, 300)
        await_or_raise(qb, 300)
        return spark.sql(
            f"SELECT doc_id, text, lang, source, n_chars FROM {clean_t}"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

# ===========================================================================
# Embedding near-dup COMPONENTS (r12) — the scale-correct dedup contract
# for embedding space. The pair-list entry (emb_neardup_lsh) is
# inherently quadratic inside a degenerate bucket and its bucket cap is
# a throughput triage that silently skips exactly the boilerplate floods
# dedup exists for; this entry is what a 100-TB pipeline consumes
# instead: exact-vector collapse bounds every LSH bucket to the
# DISTINCT-vector variety (the flood collapses to one representative +
# linear star edges), then the log-depth min-label closure labels every
# flood member without materializing a single intra-flood pair. Mirrors
# the text-side dedup_cluster_components / _collapsed_edges pattern.
# ===========================================================================


@register("emb_neardup_components", _ann_sql.lsh_neardup_components_sql())
def emb_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector that participates in an embedding near-dup cluster
    (LSH candidates at Hamming ≤ 1 per table, verified at 6-dp cosine ≥
    0.35, exact twins attached by construction), labeled with the min
    vec_id reachable through the pair graph. Collapse-equivalence to the
    uncollapsed graph is exact (see _registry._emb_components_cached);
    the oracle replays the identical collapsed construction with a
    recursive min-label CTE."""
    comps = _emb_components_cached(spark, sf_dir)
    return comps.select(F.col("id").alias("vec_id"), "component")


@register(
    "sample_hard_negatives",
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
             label AS qlabel
      FROM embeddings WHERE vec_id % 97 = 0
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(
               list_sum(list_transform(range(1, 65),
                        i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
               / (sqrt(list_sum(list_transform(range(1, 65),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))),
               6) AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.qlabel
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS INT) AS hn_rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, hn_rank
    FROM ranked WHERE hn_rank <= 5
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (vec_id % 97 == 0 — a deterministic anchor batch), the top-5 most
    cosine-similar vectors whose LABEL DIFFERS from the anchor's. The
    complement of sample_negatives (uniform md5-hash draws): uniform
    negatives saturate early in training, and the standard fix (DPR,
    Gao et al.'s condenser line, SimCSE ablations — all public) is to
    mine the highest-similarity wrong-label examples offline each epoch
    and train against those.

    Shape is ann_batch_topk's batched-serving plan with a label
    constraint: the anchor batch broadcasts (id, vector, label); one
    corpus pass scores every (anchor, candidate) pair, the wrong-label
    filter runs BEFORE the rank so the top-5 are true negatives, and
    the per-anchor top-k executes as WindowGroupLimit — per-partition
    heaps before the exchange, so the shuffle carries ~n_anchors x 5
    rows, never the scored corpus. Ordering on the ROUNDED similarity +
    vec_id keeps tie-breaks hash-stable across engines.

    At 100 TB the brute pass is the per-epoch offline-mining baseline
    (one narrow corpus scan per anchor batch, embarrassingly parallel);
    the served/iterative variant prunes candidates with the IVF/PQ
    machinery (emb_ivfpq_batch_topk) and re-ranks the shortlist against
    the label constraint — same contract, sub-linear scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.where(F.col("vec_id") % 97 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("qlabel"),
        )
    )
    scored = (
        emb.crossJoin(q)
        .where(F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            "vec_id",
            F.round(simfn.cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("hn_rank", F.row_number().over(w).cast("int"))
        .where(F.col("hn_rank") <= 5)
        .select("query_id", "vec_id", "cosine_sim", "hn_rank")
    )


def _mmr_oracle_sql(k: int = 10, shortlist: int = 20, lam: str = "0.5") -> str:
    """Unrolled k-step greedy MMR as chained CTEs (no recursive CTE with
    list state — each step is a one-row CTE referencing the union of the
    previous picks, so the SQL is plain and engine-portable). Generated
    once at import; pure f-string of constants."""
    dot = (
        "list_sum(list_transform(range(1, 65),"
        " i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))"
    )
    nrm_e = (
        "sqrt(list_sum(list_transform(range(1, 65),"
        " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))"
    )
    nrm_q = "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))"
    pdot = (
        "list_sum(list_transform(range(1, 65),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    )
    pna = (
        "sqrt(list_sum(list_transform(range(1, 65),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))"
    )
    pnb = (
        "sqrt(list_sum(list_transform(range(1, 65),"
        " i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))"
    )
    parts = [f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    cand AS MATERIALIZED (
      SELECT e.vec_id, e.embedding,
             round({dot} / ({nrm_e} * {nrm_q}), 6) AS rel
      FROM embeddings e, q
      ORDER BY rel DESC, e.vec_id LIMIT {shortlist}
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({pdot} / ({pna} * {pnb}), 6) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    sel_1 AS MATERIALIZED (
      SELECT 1 AS rank, vec_id, rel, round({lam} * rel, 6) AS mmr_score
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    )"""]
    for i in range(2, k + 1):
        picked = " UNION ALL ".join(
            f"SELECT vec_id FROM sel_{j}" for j in range(1, i)
        )
        parts.append(f""",
    picked_{i} AS ({picked}),
    sel_{i} AS MATERIALIZED (
      SELECT {i} AS rank, c.vec_id, c.rel,
             round({lam} * c.rel - (1 - {lam}) * (
               SELECT MAX(p.sim) FROM pairs p
               WHERE p.id_a = c.vec_id
                 AND p.id_b IN (SELECT vec_id FROM picked_{i})
             ), 6) AS mmr_score
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM picked_{i})
      ORDER BY mmr_score DESC, c.vec_id LIMIT 1
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM sel_{j}" for j in range(1, k + 1))
    parts.append(f"\n    SELECT CAST(rank AS INT) AS rank, vec_id, rel, mmr_score"
                 f" FROM ({union}) ORDER BY rank")
    return "".join(parts)


@register("rag_mmr_rerank", _mmr_oracle_sql())
def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein '98) —
    the diversity-aware final stage of a retrieval stack: from the exact
    cosine top-20 shortlist, greedily pick 10 results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked (λ=0.5), so
    near-duplicate passages don't crowd the context window. Complements
    rag_context_assembly's Jaccard prune: MMR trades relevance against
    redundancy continuously instead of hard-dropping above a threshold.

    Determinism contract (the hard part of orcling a greedy float loop):
    relevance comes 6dp-rounded from the same cosine fold every ANN
    entry uses; pairwise sims and each step's MMR score are rounded to
    6dp with HALF_UP (decimal.Decimal on the exact double — matching
    Spark's F.round and DuckDB's round()); every dot/norm accumulates
    LEFT-TO-RIGHT in float64 exactly like DuckDB's
    list_sum(list_transform(...)) fold (numpy's pairwise-SIMD sum order
    would drift in the last bits); ties break on vec_id. The oracle
    replays the identical greedy as 10 unrolled one-row CTEs.

    Scale shape: corpus-scale work is ONE narrow scan (the top-20 via
    TakeOrderedAndProject); the greedy loop is inherently sequential in
    k but bounded by the shortlist — k·|C| ≤ 200 score updates over 20
    64-dim vectors — and runs as ONE Arrow batch in applyInPandas on an
    executor (groupBy on a constant key is a single bounded task, the
    llm_tokenize_pack per-shard pattern; never a driver collect)."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qfull = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    shortlist = simfn.brute_force_topk(emb, qfull, k=20).select(
        "vec_id", F.col("cosine_sim").alias("rel")
    )
    cand = emb.join(F.broadcast(shortlist), "vec_id").select(
        "vec_id", "rel", "embedding"
    )

    out_schema = "rank int, vec_id bigint, rel double, mmr_score double"

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        def r6(x: float) -> float:
            return float(
                Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            )

        def dot_seq(a, b) -> float:
            acc = 0.0
            for i in range(len(a)):
                acc += float(a[i]) * float(b[i])
            return acc

        rows = sorted(
            pdf.itertuples(index=False), key=lambda t: (-t.rel, t.vec_id)
        )
        vecs = {t.vec_id: [float(v) for v in t.embedding] for t in rows}
        rel = {t.vec_id: float(t.rel) for t in rows}
        nrm = {i: dot_seq(v, v) ** 0.5 for i, v in vecs.items()}
        sim: dict[tuple[int, int], float] = {}
        for a in vecs:
            for b in vecs:
                if a != b:
                    sim[(a, b)] = r6(
                        dot_seq(vecs[a], vecs[b]) / (nrm[a] * nrm[b])
                    )
        lam = 0.5
        picked: list[int] = []
        out = []
        if rows:
            # rank 1 selects on (rel DESC, vec_id) — NOT on the rounded
            # λ·rel score, which can collapse 6dp-distinct rels (0.5x
            # maps two adjacent 6dp values onto one 6dp bucket) where
            # the oracle's sel_1 ORDER BY rel still distinguishes them
            first = rows[0].vec_id
            picked.append(first)
            out.append((1, first, rel[first], r6(lam * rel[first])))
        for rank in range(2, 11):
            best = None
            for t in rows:
                i = t.vec_id
                if i in picked:
                    continue
                pen = max(sim[(i, j)] for j in picked)
                score = r6(lam * rel[i] - (1 - lam) * pen)
                key = (-score, i)
                if best is None or key < best[0]:
                    best = (key, i, score)
            if best is None:
                # shortlist smaller than k — the oracle's sel_i CTEs go
                # empty past this point the same way
                break
            picked.append(best[1])
            out.append((rank, best[1], rel[best[1]], best[2]))
        return pd.DataFrame(
            out, columns=["rank", "vec_id", "rel", "mmr_score"]
        )

    return (
        cand.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(lambda _, pdf: _greedy(pdf), schema=out_schema)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Bigram LM perplexity filter + late-interaction MaxSim retrieval (r13)
# ---------------------------------------------------------------------------

_BIGRAM_LAMBDA = "0.75"  # interpolation weight, spelled once for both engines


@register(
    "docs_bigram_xent",
    f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(COALESCE(text,''))),
                                            '\\s+'), x -> x <> '') AS ws
      FROM documents
    ),
    uni AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cu
      FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word
    ),
    tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uni),
    bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM w, unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    c2 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
    ),
    cp AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cp FROM c2 GROUP BY w1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-sum(ln({_BIGRAM_LAMBDA} * (CAST(c2 AS DOUBLE) / cp)
                         + (1 - {_BIGRAM_LAMBDA}) * (CAST(cu AS DOUBLE) / n)))
                 / count(*), 6) AS xent
    FROM bg
    JOIN c2 USING (w1, w2)
    JOIN cp USING (w1)
    JOIN uni ON bg.w2 = uni.word
    CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def docs_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an interpolated corpus BIGRAM
    model — the KenLM-filter shape (CCNet trains an n-gram LM on a clean
    corpus and culls documents by perplexity; docs_unigram_xent is the
    order-1 degenerate of this). p(w2|w1) = λ·c(w1,w2)/c(w1·) +
    (1−λ)·c(w2)/N with λ=0.75 — Jelinek-Mercer interpolation, so unseen
    continuations back off to the unigram floor and the log never sees a
    zero (every scored bigram exists in the model here because the model
    IS this corpus; the interpolated form is what ships when the model
    corpus differs from the scored corpus).

    Determinism: all four statistics (c2, prefix, unigram, N) are exact
    integers aggregated corpus-wide; the only floats are the two
    divisions + ln per bigram and the per-document mean, rounded once at
    6dp — the docs_unigram_xent contract, one model order up.

    Scale shape (100 TB): bigrams come from one arrays_zip of two
    whole-array slices (narrow, no self-join on position); the bigram
    model join keys on (w1,w2) — a shuffle join at web-scale model
    sizes, never forced broadcast (AQE broadcasts it at fixture scale
    where the model is tiny); prefix/unigram sides are vocabulary-sized.
    Cardinality-dominant work is two passes over the token stream —
    the same class as docs_unigram_xent plus one extra model groupBy."""
    from extract_permits_spark.functions.similarity import tokens

    lam = float(_BIGRAM_LAMBDA)
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", tokens(F.col("text")).alias("ws"))
    uni = (
        ws.select(F.explode("ws").alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cu"))
    )
    # uni feeds TWO branches (the total-count fold and the w2 join) and
    # c2 below feeds TWO (the prefix aggregate and the model join);
    # without a checkpoint Catalyst recomputes the corpus-scale token
    # explode under each consumer (no cross-branch common-subtree
    # elimination — the rag_context_assembly pattern, SCALE.md). Both
    # frames are MODEL-scale (vocabulary / bigram-vocabulary), not
    # corpus-scale: a distributed materialization bounded by vocab², the
    # thing an LM-training pipeline persists anyway.
    uni = uni.localCheckpoint(eager=False)
    tot = uni.agg(F.sum("cu").cast("bigint").alias("n"))
    bg = (
        ws.where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(ws, 1, size(ws) - 1)").alias("w1"),
                    F.expr("slice(ws, 2, size(ws) - 1)").alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    ).localCheckpoint(eager=False)
    cp = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("cp"))
    p = F.lit(lam) * (F.col("c2").cast("double") / F.col("cp")) + F.lit(
        1 - lam
    ) * (F.col("cu").cast("double") / F.col("n"))
    return (
        bg.join(c2, ["w1", "w2"])
        .join(cp, "w1")
        .join(uni.withColumnRenamed("word", "w2"), "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(-F.sum(F.log(p)) / F.count(F.lit(1)), 6).alias("xent"),
        )
    )


# Fixed query set for the late-interaction entry — constants of the spec
# (like _RAG_QUERY_TEXT), drawn from the fixture corpus vocabulary.
_COLBERT_QUERIES: list[tuple[int, str]] = [
    (1, _RAG_QUERY_TEXT),  # "spark table join fast query vector"
    (2, "stream window agg merge hash"),
    (3, "slow filter customer data row"),
]


def _colbert_oracle_sql(k: int = 5) -> str:
    qvals = ", ".join(
        f"({q_id}, {pos}, '{w}')"
        for q_id, text in _COLBERT_QUERIES
        for pos, w in enumerate(text.split())
    )
    return f"""
    WITH q(q_id, pos, word) AS (VALUES {qvals}),
    qs AS (
      SELECT q_id, pos,
             ('0x' || substr(md5(word), 1, 15))::BIGINT AS qsig
      FROM q
    ),
    dw AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(COALESCE(text,''))),
                                                   '\\s+'), x -> x <> '')) AS word
      FROM documents
    ),
    dt AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(word), 1, 15))::BIGINT AS dsig
      FROM dw
    ),
    mh AS (
      SELECT q_id, pos, doc_id,
             MIN(bit_count(xor(qsig, dsig))) AS mh
      FROM qs CROSS JOIN dt GROUP BY q_id, pos, doc_id
    ),
    sc AS (
      SELECT q_id, doc_id,
             round(CAST(sum(60 - 2 * mh) AS DOUBLE) / 60.0, 6) AS score
      FROM mh GROUP BY q_id, doc_id
    )
    SELECT q_id, CAST(rank AS INTEGER) AS rank, doc_id, score FROM (
      SELECT q_id, doc_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM sc
    ) WHERE rank <= {k}
    """


@register("rag_colbert_maxsim", _colbert_oracle_sql())
def rag_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT MaxSim, Khattab & Zaharia
    SIGIR'20): score(q, d) = Σ_{t∈q} max_{t'∈d} sim(E(t), E(t')) — each
    query token finds its best-matching document token, so multi-aspect
    queries aren't collapsed into one pooled vector the way
    ann_cosine_topk / rag_hash_retrieval pool them. Token embeddings are
    the 60-bit md5 signature (the repo's cross-engine hash contract,
    md5_long60), under which sim(a,b) = (60 − 2·hamming)/60 — the
    signed-bit dot product, EXACT integers until one final division, so
    max/argmax and the top-k tie-break (score DESC, doc_id ASC) are
    bit-deterministic on both engines.

    Scale shape (100 TB): the document side is the distinct
    (doc_id, token-signature) stream — corpus-scale, deduped before any
    join since MaxSim only needs each distinct token once; the query
    side is bounded (|queries|×|tokens| = 16 rows here, ≤10^3 in any
    serving batch) and BROADCAST, so the candidate step is a narrow
    broadcast pass over the token stream — no data×data join. The
    grouped min keys on (q_id, pos, doc_id) — cardinality ≤ query-tokens
    × documents — with map-side partial min; per-query top-k compiles to
    WindowGroupLimit (rank-filter pattern), never a global sort. The
    production refinement (prune to an ANN shortlist first, MaxSim only
    the shortlist — the actual ColBERT serving stack) composes from
    ann_*_topk's candidate sets and this entry's scorer unchanged."""
    from extract_permits_spark.functions.similarity import md5_long60, tokens

    k = 5
    qtok = spark.createDataFrame(
        [
            (q_id, pos, w)
            for q_id, text in _COLBERT_QUERIES
            for pos, w in enumerate(text.split())
        ],
        "q_id int, pos int, word string",
    )
    qs = qtok.select("q_id", "pos", md5_long60("word").alias("qsig"))
    d = load_table(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .select("doc_id", md5_long60("word").alias("dsig"))
        .distinct()
    )
    mh = (
        dt.crossJoin(F.broadcast(qs))
        .groupBy("q_id", "pos", "doc_id")
        .agg(
            F.min(
                F.bit_count(F.col("qsig").bitwiseXOR(F.col("dsig")))
            ).alias("mh")
        )
    )
    sc = mh.groupBy("q_id", "doc_id").agg(
        F.round(
            F.sum(F.lit(60) - F.lit(2) * F.col("mh")).cast("double") / 60.0, 6
        ).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "doc_id", "score")
    )


# Shared closed-form dHash replay (pixel formula -> 9x8 grid -> 64-bit
# hash as hi/lo) — the single source of truth for BOTH phash oracles
# (batch pair join + streaming ingest probe). Mirrors
# functions/multimodal.py:_phash_pixels/dhash64 — change all together.
_PHASH_HASH_CTES = """p AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 4 = 1 THEN doc_id - 1 ELSE doc_id END AS b,
             doc_id % 4 = 1 AS twin
      FROM documents
    ),
    shp AS (
      SELECT media_id, b, twin,
             9 + (b % 4) * 5 AS w,
             8 + (b % 3) * 6 AS h,
             CASE WHEN b % 2 = 0 THEN 3 ELSE 4 END AS ch
      FROM p
    ),
    grid AS (
      SELECT media_id, gy.gy, gx.gx,
             SUM( ( (b * b) % 251
                  + (3 + b % 5) * (((2 * gx.gx + 1) * w) // 18)
                  + (5 + b % 7) * (((2 * gy.gy + 1) * h) // 16)
                  + (2 + b % 11) * (((((2 * gx.gx + 1) * w) // 18)
                                     * ((((2 * gy.gy + 1) * h) // 16))) % 13)
                  + 101 * c.c
                  + CASE WHEN twin
                              AND ((((2 * gx.gx + 1) * w) // 18)
                                   + (((2 * gy.gy + 1) * h) // 16)) % 11 = 0
                         THEN 3 ELSE 0 END
                  ) % 256 ) AS s
      FROM shp,
           generate_series(0, 8) AS gx(gx),
           generate_series(0, 7) AS gy(gy),
           generate_series(0, 3) AS c(c)
      WHERE c.c < ch
      GROUP BY media_id, gy.gy, gx.gx
    ),
    bits AS (
      SELECT l.media_id, (l.gy * 8 + l.gx) AS k,
             CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS bit
      FROM grid l
      JOIN grid r ON r.media_id = l.media_id AND r.gy = l.gy AND r.gx = l.gx + 1
      WHERE l.gx < 8
    ),
    h AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
                           ELSE 0 END) AS BIGINT) AS lo
      FROM bits GROUP BY media_id
    )"""


@register(
    "mm_image_phash",
    f"""
    WITH {_PHASH_HASH_CTES}
    SELECT a.media_id AS id_a, bb.media_id AS id_b,
           CAST(bit_count(xor(a.hi, bb.hi))
                + bit_count(xor(a.lo, bb.lo)) AS BIGINT) AS hamming
    FROM h a JOIN h bb ON a.media_id < bb.media_id
    WHERE bit_count(xor(a.hi, bb.hi)) + bit_count(xor(a.lo, bb.lo)) <= 7
    """,
)
def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup — the multimodal dedup rail: one
    real PNG per document (every 4th a +3-perturbed twin of its
    predecessor), decoded with the pure-stdlib codec inside Arrow-batched
    mapInPandas, dHashed on an exact-integer 9x8 grid, then paired by a
    banded Hamming self-join (8 bands of 8 bits — pigeonhole-complete at
    radius 7, plan-tested equi-join, never all-pairs).

    The oracle replays hash AND pairing closed-form from the shared pixel
    formula — it never sees a PNG byte — so a hash match proves the whole
    encode -> deflate -> inflate -> unfilter -> sample -> pack -> band ->
    join chain end-to-end. At 100 TB this is image dedup over a scrape:
    narrow decode+hash per partition (the only Python), one equi-join on
    (band, value), candidate verify by two xor/bit_counts. Ref: the
    reference has no multimodal surface (SURVEY §2.11); north-star
    capability alongside mm_image_stats."""
    d = load_table(spark, sf_dir, "documents")
    media = mmfn.synthetic_phash_media(d)
    hashes = mmfn.phash64(media)
    return mmfn.phash_pairs(hashes, max_hamming=7)


@register("emb_kcenter_coreset", _ann_sql.kcenter_sql(dim=64, k=8))
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point k-center coreset (Gonzalez 1985) + full
    nearest-center assignment — the diverse-exemplar selection a curation
    pipeline runs to summarize an embedding corpus (coreset for clustering
    / active-learning seed picks; 2-approx max-min cover).

    Selection: similarity.kcenter_select — k passes, each a narrow
    broadcast-literal distance map + one max(struct) tree reduce; driver
    state is k ids + k·dim doubles (bounded). Assignment: one codegen'd
    argmin over the k broadcast centers via array_sort(struct(d, id))[0]
    — no join, no shuffle, no UDF. The DuckDB twin unrolls the identical
    greedy (same left-to-right double folds, same LEAST chains, same
    tie-breaks), so every pick and every assignment hash-matches.

    At 100 TB: k linear scans (each whole-stage codegen) and a broadcast
    of k vectors — the same shape as the IVF fit but with a max-reduce
    instead of a mean, and provably no hot reducer anywhere."""
    from extract_permits_spark.plans._registry import _kcenter_cached

    emb = load_table(spark, sf_dir, "embeddings")
    sel, centers = _kcenter_cached(spark, emb, sf_dir, k=8)
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    scored = F.array(
        *[
            F.struct(
                simfn._sqdist_to(c).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for (_, cid), c in zip(sel, centers)
        ]
    )
    best = F.array_sort(scored).getItem(0)
    return v.select(
        "vec_id",
        best["cid"].alias("center_id"),
        F.round(best["d"], 6).alias("dist_sq"),
        # vec_id == assigned center, matching the oracle's
        # `a.vec_id = a.center_id` exactly: if two identical embeddings
        # were both picked as centers (possible in one batched round),
        # both assign to the LOWER id, so only that one is a center here
        # — an id-membership test would disagree (r13 ADVICE, medium).
        (F.col("vec_id") == best["cid"]).alias("is_center"),
    )


@register("emb_kcenter_batch", _ann_sql.kcenter_batch_sql(dim=64, k=8, batch=4))
def emb_kcenter_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched farthest-point k-center + nearest-center assignment — the
    scale path for coreset selection when k grows past ~100 and the
    exact greedy's k sequential driver passes dominate (r12 VERDICT #9;
    SCALE.md names the limitation on emb_kcenter_coreset).

    Selection: similarity.kcenter_select_batched — ceil((k−1)/batch)
    passes, each ONE top-b TakeOrdered reduce by (dmin DESC, id), then a
    LEAST-chain distance fold over the whole batch. Oversampled greedy:
    batch members are far from all previous centers but may be near
    each other, so the 2-approx bound loosens to a constant factor —
    the documented trade for batch× fewer corpus scans (the
    approximate-family contracts table in COVERAGE.md states it).
    Assignment: the same codegen'd argmin-over-broadcast-centers as
    emb_kcenter_coreset. The DuckDB twin unrolls the identical rounds
    (top-b by the same keys, MIN-of-doubles distance folds), so every
    pick and assignment hash-matches."""
    from extract_permits_spark.plans._registry import _kcenter_batched_cached

    emb = load_table(spark, sf_dir, "embeddings")
    sel, centers = _kcenter_batched_cached(spark, emb, sf_dir, k=8, batch=4)
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    scored = F.array(
        *[
            F.struct(
                simfn._sqdist_to(c).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for (_, cid), c in zip(sel, centers)
        ]
    )
    best = F.array_sort(scored).getItem(0)
    return v.select(
        "vec_id",
        best["cid"].alias("center_id"),
        F.round(best["d"], 6).alias("dist_sq"),
        # vec_id == assigned center, matching the oracle's
        # `a.vec_id = a.center_id` exactly: if two identical embeddings
        # were both picked as centers (possible in one batched round),
        # both assign to the LOWER id, so only that one is a center here
        # — an id-membership test would disagree (r13 ADVICE, medium).
        (F.col("vec_id") == best["cid"]).alias("is_center"),
    )


@register("emb_pca_project", _ann_sql.pca_power_sql(dim=64, iters=8))
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principal-component projection by power iteration — the
    dimensionality-reduction / drift-axis primitive (corpus visualization,
    embedding-space health checks, whitening's first step).

    The fit (similarity.pca_power_fit) is ONE corpus pass producing exact
    integer sums Σq and Σq·qᵀ — a d²-key map-side-combined aggregate, the
    Gram-matrix shape that is corpus-size-independent after the combine —
    then a bounded driver recurrence (d² doubles, 8 power steps, 9-dp
    floor-half-up rounding each step, the kmeans-oracle recipe). The
    projection is this narrow codegen'd pass: dot(e, v) − centering
    constant, no shuffle, no UDF. The DuckDB twin unrolls the identical
    quantize → HUGEINT sums → scatter matrix → power steps → projection
    chain, so the pc1 scores hash-match exactly — an honest oracle for an
    iterative float algorithm."""
    from extract_permits_spark.plans._registry import _pca_cached

    emb = load_table(spark, sf_dir, "embeddings")
    v, const, _n = _pca_cached(spark, emb, sf_dir)
    e = F.col("embedding").cast("array<double>")
    varr = F.array(*[F.lit(float(x)) for x in v])
    dot = F.aggregate(
        F.zip_with(e, varr, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    return emb.select(
        "vec_id", F.round(dot - F.lit(float(const)), 6).alias("pc1")
    )


@register(
    "mm_audio_fingerprint",
    """
    WITH p AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 4 = 1 THEN doc_id - 1 ELSE doc_id END AS b,
             doc_id % 4 = 1 AS twin
      FROM documents
    ),
    shp AS (SELECT media_id, b, twin, 960 + (b % 5) * 320 AS n FROM p),
    e AS (
      SELECT media_id, (i.i * 65) // n AS f,
             SUM(ABS(
               ( ((b * b) % 1009) * 13
               + (7 + b % 13) * 31 * i.i
               + (3 + b % 5) * ((i.i * i.i) % 97)
               + CASE WHEN twin AND i.i % 17 = 0 THEN 40 ELSE 0 END
               ) % 65536 - 32768)) AS en
      FROM shp, generate_series(0, 2239) AS i(i)
      WHERE i.i < n
      GROUP BY media_id, f
    ),
    bits AS (
      SELECT l.media_id, l.f AS k,
             CASE WHEN r.en > l.en THEN 1 ELSE 0 END AS bit
      FROM e l JOIN e r ON r.media_id = l.media_id AND r.f = l.f + 1
      WHERE l.f < 64
    ),
    h AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
                           ELSE 0 END) AS BIGINT) AS lo
      FROM bits GROUP BY media_id
    )
    SELECT a.media_id AS id_a, bb.media_id AS id_b,
           CAST(bit_count(xor(a.hi, bb.hi))
                + bit_count(xor(a.lo, bb.lo)) AS BIGINT) AS hamming
    FROM h a JOIN h bb ON a.media_id < bb.media_id
    WHERE bit_count(xor(a.hi, bb.hi)) + bit_count(xor(a.lo, bb.lo)) <= 7
    """,
)
def mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint near-dup — the WAV twin of mm_image_phash: one
    real mono PCM clip per document (every 4th a perturbed twin of its
    predecessor), decoded with the stdlib RIFF codec inside Arrow-batched
    mapInPandas, fingerprinted as 64 frame-energy difference bits (exact
    integer Σ|sample| per 65 frames), then paired by the SAME banded
    Hamming join as the image rail (phash_pairs is hash-agnostic).

    The oracle replays samples → frame energies → bits → pairing
    closed-form without seeing a WAV byte, so a hash match proves the
    encode → RIFF-parse → frame → fingerprint → band → join chain
    end-to-end. Twins measured ≤ 1 Hamming bit through the codec chain;
    unrelated clips ~31. Deployment swaps the synthetic generator for
    chromaprint-style frame energies over real audio — the Spark plumbing
    (narrow decode, 16-byte hashes, equi-join candidates) is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    media = mmfn.synthetic_audiofp_media(d)
    hashes = mmfn.audiofp64(media)
    return mmfn.phash_pairs(hashes, max_hamming=7)


@register(
    "stream_phash_ingest",
    f"""
    WITH {_PHASH_HASH_CTES},
    hits AS (
      SELECT n.media_id
      FROM h n JOIN h s
        ON n.media_id % 2 = 1 AND s.media_id % 2 = 0
       AND bit_count(xor(n.hi, s.hi)) + bit_count(xor(n.lo, s.lo)) <= 7
      GROUP BY n.media_id
    )
    SELECT d.doc_id AS media_id,
           (hits.media_id IS NOT NULL) AS is_neardup
    FROM documents d LEFT JOIN hits ON hits.media_id = d.doc_id
    WHERE d.doc_id % 2 = 1
    """,
)
def stream_phash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static image near-dup on ingest: odd-id images arrive as
    (media_id, payload) parquet through a file stream in multiple
    micro-batches; each payload is decoded + dHashed inside foreachBatch
    and flagged iff some even-id STATIC image lies within Hamming radius
    7 (band-join candidates, exact verify — streaming/phash_ingest.py).
    The odd side contains every perturbed twin (media_id % 4 == 1), whose
    base (% 4 == 0) sits in the static corpus, plus the % 4 == 3 images
    with no twin — so the output mixes true and false.

    The oracle replays BOTH sides' full decode-equivalent hash pipeline
    closed-form and the cross pairwise condition in one batch query —
    proving the per-micro-batch incremental decision equals the
    full-corpus batch conclusion (stream ≡ batch), on binary payloads.
    Same idempotent-sink contract as the text-side ingest rails."""
    import os

    from extract_permits_spark.functions.multimodal import (
        hamming_band_rows,
        phash64,
    )
    from extract_permits_spark.streaming.phash_ingest import (
        score_batch_against_index,
    )
    from extract_permits_spark.streaming.util import run_file_ingest, stage_batches

    d = load_table(spark, sf_dir, "documents")
    media = mmfn.synthetic_phash_media(d)
    static_media = media.where(F.col("media_id") % 2 == 0)
    new_media = media.where(F.col("media_id") % 2 == 1)

    work = scratch_dir("stream_phash_")
    src, out = os.path.join(work, "in"), os.path.join(work, "out")
    # two files -> two micro-batches
    stage_batches(
        [
            new_media.where(((F.col("media_id") - 1) / 2).cast("long") % 2 == h)
            for h in (0, 1)
        ],
        src,
    )
    # the static band index is built once, before the stream starts
    static_bands = hamming_band_rows(phash64(static_media)).persist()
    try:
        static_bands.count()
        run_file_ingest(
            spark, src, new_media.schema, os.path.join(work, "ckpt"), out,
            score=lambda b: score_batch_against_index(b, static_bands),
        )
    finally:
        static_bands.unpersist()
    # project off the idempotency partition key: the oracle is the batch
    # contract, which has no notion of micro-batches
    return spark.read.parquet(out).select("media_id", "is_neardup")


@register("emb_pca_top2", _ann_sql.pca_power2_sql(dim=64, iters=8))
def emb_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal-component projection — the corpus-visualization /
    embedding-drift plane. PC1 as in emb_pca_project; PC2 by Hotelling
    deflation of the same scatter matrix (λ₁ = v₁ᵀMv₁, M₂ = M − λ₁v₁v₁ᵀ,
    second power recurrence) — the deflation runs entirely in bounded
    driver doubles with pinned op order, so the corpus still pays exactly
    ONE pass (the shared integer scatter aggregate) and the projection is
    one narrow codegen'd map emitting both coordinates. The DuckDB twin
    replays both chains, the deflation, and both centered projections
    bit-exactly."""
    from extract_permits_spark.plans._registry import _pca2_cached

    emb = load_table(spark, sf_dir, "embeddings")
    v1, c1, v2, c2, _n = _pca2_cached(spark, emb, sf_dir)
    e = F.col("embedding").cast("array<double>")

    def proj(vec: list[float], const: float):
        varr = F.array(*[F.lit(float(x)) for x in vec])
        dot = F.aggregate(
            F.zip_with(e, varr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(dot - F.lit(float(const)), 6)

    return emb.select(
        "vec_id", proj(v1, c1).alias("pc1"), proj(v2, c2).alias("pc2")
    )


@register(
    "mm_video_shots",
    """
    WITH vids AS (
      SELECT doc_id AS media_id, f.f AS f,
             doc_id * 97
             + (CASE WHEN f.f < 2 + doc_id % 3 THEN 0
                     WHEN f.f < 5 + doc_id % 2 THEN 1
                     ELSE 2 END) * 37 AS b
      FROM documents, generate_series(0, 7) AS f(f)
    ),
    grid AS (
      SELECT media_id, f, gy.gy, gx.gx,
             SUM( ( (b * b) % 251
                  + (3 + b % 5) * (((2 * gx.gx + 1) * 16) // 18)
                  + (5 + b % 7) * (((2 * gy.gy + 1) * 16) // 16)
                  + (2 + b % 11) * (((((2 * gx.gx + 1) * 16) // 18)
                                     * ((((2 * gy.gy + 1) * 16) // 16))) % 13)
                  + 101 * c.c
                  + CASE WHEN ((((2 * gx.gx + 1) * 16) // 18)
                               + (((2 * gy.gy + 1) * 16) // 16)) % 11 = 0
                         THEN 3 * (f % 2) ELSE 0 END
                  ) % 256 ) AS s
      FROM vids,
           generate_series(0, 8) AS gx(gx),
           generate_series(0, 7) AS gy(gy),
           generate_series(0, 2) AS c(c)
      GROUP BY media_id, f, gy.gy, gx.gx
    ),
    bits AS (
      SELECT l.media_id, l.f, (l.gy * 8 + l.gx) AS k,
             CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS bit
      FROM grid l
      JOIN grid r ON r.media_id = l.media_id AND r.f = l.f
                 AND r.gy = l.gy AND r.gx = l.gx + 1
      WHERE l.gx < 8
    ),
    h AS (
      SELECT media_id, f,
             CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
                           ELSE 0 END) AS BIGINT) AS lo
      FROM bits GROUP BY media_id, f
    )
    SELECT r.media_id, r.f AS frame_idx,
           CAST(bit_count(xor(l.hi, r.hi))
                + bit_count(xor(l.lo, r.lo)) AS BIGINT) AS hamming,
           bit_count(xor(l.hi, r.hi)) + bit_count(xor(l.lo, r.lo)) > 7
             AS is_cut
    FROM h l JOIN h r ON r.media_id = l.media_id AND r.f = l.f + 1
    """,
)
def mm_video_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection — the video rail computed for real: 8
    actual PNG frames per document (two planted cuts per video at
    id-dependent positions; within-scene frames differ only by
    alternating sparse motion), decoded + dHashed per frame inside
    Arrow-batched mapInPandas, then ONE bounded lag window per video
    (partitioned by media_id, 8 rows per key) marks a cut wherever
    consecutive-frame Hamming distance exceeds radius 7 (measured:
    in-scene ≤ 6 bits, cuts ≥ 10).

    The oracle replays frame pixels → grids → hashes → transitions
    closed-form, so a hash match proves the whole per-frame codec +
    fingerprint + windowed-compare chain. At 100 TB this is the
    shot-segmentation pass of a video-curation pipeline: frames explode
    Spark-side, decode stays narrow, and the only stateful op is a
    per-video 8-row window — deployment swaps the synthetic frames for
    container-demuxed keyframes with the same plumbing."""
    d = load_table(spark, sf_dir, "documents")
    frames = mmfn.synthetic_video_frames(d)
    hashes = mmfn.videohash64(frames)
    return mmfn.video_shot_cuts(hashes, max_hamming=7)


@register(
    "mm_image_dedup_clusters",
    f"""
    WITH RECURSIVE {_PHASH_HASH_CTES},
    prs AS MATERIALIZED (
      SELECT a.media_id AS u, bb.media_id AS v
      FROM h a JOIN h bb ON a.media_id < bb.media_id
      WHERE bit_count(xor(a.hi, bb.hi)) + bit_count(xor(a.lo, bb.lo)) <= 7
    ),
    sym AS MATERIALIZED (
      SELECT u, v FROM prs
      UNION
      SELECT v AS u, u AS v FROM prs
    ),
    reach(id, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
      UNION
        SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
    ),
    cmp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id)
    SELECT d.doc_id AS media_id,
           COALESCE(c.component, d.doc_id) AS cluster_id,
           d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id
    """,
)
def mm_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup END-TO-END: decode → dHash → banded Hamming pairs →
    min-label transitive closure → canonical survivor per cluster
    (singletons self-cluster, so the output is a complete keep-list:
    keep exactly the is_canonical rows). Marries the multimodal rail to
    the same closure operator the text near-dup families use
    (operators/graph.py:connected_components — neighbor-min + pointer
    jumping, O(log d) driver-coordinated rounds, edge-list-sized state).
    The oracle replays hashes closed-form and the closure as a recursive
    min-label CTE — the same construction-proof pattern as
    emb_neardup_components, now on binary payloads."""
    from extract_permits_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    media = mmfn.synthetic_phash_media(d)
    pairs = mmfn.phash_pairs(mmfn.phash64(media), max_hamming=7).select(
        "id_a", "id_b"
    )
    comp = connected_components(pairs)
    ids = d.select(F.col("doc_id").alias("media_id"))
    return (
        ids.join(comp, ids.media_id == comp.id, "left")
        .select(
            "media_id",
            F.coalesce(F.col("component"), F.col("media_id")).alias(
                "cluster_id"
            ),
        )
        .withColumn("is_canonical", F.col("media_id") == F.col("cluster_id"))
    )
