"""Query registry: one entry per SURVEY.md §2 operator class (+ LLM ops).

Each query has a Spark implementation (idiomatic DataFrame API, built-in
functions only unless noted) and, where SQL-expressible, a DuckDB oracle
returning identical column names/values. Conventions to keep the
order-insensitive value hash stable across engines:

- every computed column is explicitly aliased, identically on both sides;
- date/timestamp outputs are formatted to strings (engine-independent);
- double aggregations are computed in DECIMAL(18,2) (exact, associative —
  no float summation-order drift) and cast to DOUBLE at the end;
- ratios are a single double division of exact operands (deterministic);
- string collation is binary on both engines.
"""

from __future__ import annotations

# Registry machinery and the cross-chunk memo caches live in _registry
# (cycle-free; see its docstring). Re-exported here so every existing
# importer keeps addressing them as analytics.<name> — the cache DICTS
# are the same objects (bench.py clears them through this module).
from extract_permits_spark.plans._registry import (  # noqa: F401
    _COMPONENTS_CACHE,
    _IVF_CENTROID_CACHE,
    _JACCARD_PAIRS_CACHE,
    _ORACLES,
    _QUERIES,
    QueryFn,
    _collapsed_edges,
    _components_cached,
    _dec,
    _ivf_centroids_cached,
    _jaccard_pairs_cached,
    _jaccard_pairs_uncached,
    register,
)
from extract_permits_spark.sources.readers import load_table  # noqa: F401

# The driver's correctness check covers the first 50 registry entries per
# round; _CHECK_FIRST controls that window and is rotated each round so
# every entry earns a driver row (see the r9 NOTE below the list).
_CHECK_FIRST = [
    # Window after r16: the r10 cohort that led the r16 window was
    # witnessed green in CORRECTNESS_r16 and leaves it. (a) every entry
    # changed since _AUDIT_BASE (rotation_audit output, pinned by
    # tests/test_rotation.py); (b) the oldest r11-witnessed entries
    # (ledger order), filling the window to exactly 50. Witness ages
    # are computed, not hand-tallied: python tools/witness_ledger.py.
    # (a) operators/graph.py — connected_components explodes both edge
    # orientations from one copy of the edge plan and folds the seed
    # hop into round 1's job (same labels; every CC consumer):
    "dedup_cluster_components",
    "dedup_cluster_canonical",
    "llm_corpus_curation",
    "sample_leakage_safe_split",
    "docs_corpus_report",
    "emb_neardup_components",
    "mm_image_dedup_clusters",
    # memory-sink query names built from a stable md5 tag of the fixture
    # dir instead of the per-process salted hash():
    "stream_tumbling_agg",
    "stream_stateful_totals",
    "stream_dedup",
    "stream_session_agg",
    "stream_stream_join",
    "stream_corpus_ingest",
    # r16 optimization edits (functions/similarity.py minhash/simhash
    # passes; rag_context_assembly's dropped shortlist checkpoint):
    "dedup_simhash",
    "dedup_simhash_recall",
    "dedup_minhash_lsh",
    "dedup_minhash_md5",
    "dedup_minhash_recall",
    "stream_neardup_ingest",
    "docs_source_overlap_matrix",
    "emb_cross_decontaminate",
    "emb_neardup_lsh",
    "stream_decontaminate_ingest",
    "stream_semantic_decon_ingest",
    "rag_context_assembly",
    # the micro-batch ingest rail (streaming/util.py) and the
    # scratch-dir landing of managed-table results:
    "stream_ann_index_ingest",
    "stream_hll_distinct",
    "stream_cm_heavy_hitters",
    "stream_kmv_overlap",
    "stream_phash_ingest",
    "emb_ivfpq_indexed_topk",
    # (b) the oldest r11-witnessed entries (ledger order); the rest of
    # the r11 cohort defers to the next window.
    "ev_retention",
    "ev_cube",
    "q6_forecast_revenue",
    "q10_returned_items",
    "w6_rank_family",
    "ev_transitions",
    "x5_scd2_intervals",
    "j9_fuzzy_symspell",
    "ev_time_weighted_avg",
    "x6_merge_upsert",
    "j10_null_safe_join",
    "stream_cdc_apply",
    "ev_variant_agg",
    "sketch_cms_topk",
    "x7_date_spine",
    "profile_documents",
    "graph_triangles",
    "j7b_asof_forward",
    "q1_incremental_maintenance",
]

# Base ref for this round's rotation audit (r13 final commit) and the
# modules whose r14 edits are exempt from the changed-entry rule. BUMP
# _AUDIT_BASE to the new round-boundary sha (the driver's "round N:
# verdict/..." commit) at the START of each builder session and clear
# the exemptions — otherwise the audit re-flags the previous round's
# already-witnessed entries forever. Exemptions are per-round and only
# for edits that cannot move any entry's VALUES or result-plan shape —
# each needs the reason an auditor would check. tests/test_rotation.py
# asserts rotation_audit(_AUDIT_BASE) minus these modules ⊆ _CHECK_FIRST
# so the transitive rule can't silently regress (VERDICT r13 #1).
_AUDIT_BASE = "c7b7cc989caf530d978f3cda8a01a0a2d96e9a22"
_AUDIT_HYGIENE_MODULES: set[str] = {
    # default_parallelism() falls back to the CPU affinity mask instead
    # of a fixed 32 when $SPARK_GRAFT_CPUS is unset, the driver heap
    # default is sized to the machine, and the codegen class cache holds
    # 1000 entries: only get_spark() reads these, none moves a value,
    # and no registry entry builds its own session
    "extract_permits_spark.session",
    # run_pipeline lost its never-passed ``cache=False`` parameter: the
    # code path every caller runs is unchanged
    "extract_permits_spark.plans.permits",
    # scratch_dir / await_or_raise (the only helpers the non-rail
    # stream entries use) changed docstrings only; the new rail
    # functions are reached only by the rail entries, which stay
    # flagged through their own changed chunk bodies and *_ingest
    # modules, and the new stable_tag only by the memory-sink entries,
    # flagged through their own changed bodies
    "extract_permits_spark.streaming.util",
    # the module docstring and the TABLES comment now say the readers
    # infer the schema from the parquet footers (they always did); no
    # code changed
    "extract_permits_spark.sources.readers",
}

# r16 rotation NOTE: witness-age arithmetic is computed, not
# hand-tallied — run `python tools/witness_ledger.py` for the
# per-entry last-green-round table, and see tests/test_witness_age.py
# for the enforced bound: every entry whose witness would age past 5
# rounds at the upcoming driver round must sit in this window.
# Deferred: the 12 r11-witnessed entries past the 19 (b) slots above
# (ledger order from ev_dau_wau); the changed entries leave no room for
# them in this window.
# The rotation rule is TRANSITIVE over helper imports and BODY-GRANULAR
# within chunk modules: tools/rotation_audit.py <git-ref> lists every
# registry entry whose own function body, same-chunk helper, or
# transitively-imported engine module changed since the ref — those
# jump the queue alongside directly-edited entries, minus the
# per-round documented hygiene modules above (pinned by
# tests/test_rotation.py).


def _reordered(d: dict) -> dict:
    head = {k: d[k] for k in _CHECK_FIRST if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def queries() -> dict[str, QueryFn]:
    return _reordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _reordered(_ORACLES)


# ---------------------------------------------------------------------------
# The query surface itself lives in four chunk modules, split from this
# file in r12 (it had grown past 9k lines). They are imported HERE, in
# original accretion order, because each @register call appends to
# _QUERIES/_ORACLES and the resulting iteration order — which the
# driver's 50-entry correctness window reads through _CHECK_FIRST — must
# stay bit-identical to the pre-split single file. tpch_extra is pulled
# in by analytics_rag at its original position for the same reason.
# ---------------------------------------------------------------------------

from extract_permits_spark.plans import analytics_core as _core  # noqa: E402
from extract_permits_spark.plans import analytics_corpus as _corpus  # noqa: E402
from extract_permits_spark.plans import analytics_events as _events  # noqa: E402
from extract_permits_spark.plans import analytics_rag as _rag  # noqa: E402

# Re-export every chunk-defined name so existing importers (tests, bench,
# tools) keep addressing them as analytics.<name>. setdefault: hub-owned
# names (register, caches, queries, ...) always win.
for _mod in (_core, _corpus, _events, _rag):
    for _k, _v in vars(_mod).items():
        if not _k.startswith("__"):
            globals().setdefault(_k, _v)
del _mod, _k, _v
