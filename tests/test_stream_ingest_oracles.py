"""Registry entries against their DuckDB oracles at sf0.001, in the
unit suite, with the same value normalization as tools/check_queries.py:

- every stream ingest entry (the stream ≡ batch claim each one makes);
- every entry that closes a near-dup graph with connected components.

Each entry must also leave the session's warehouse directory alone:
stream results land in the entry's scratch dir (removed at exit), never
in a managed table, which would leave one directory per process.
"""

from __future__ import annotations

import os
import sys
from urllib.parse import urlparse

import pytest
from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

STREAM_ENTRIES = [
    "stream_neardup_ingest",
    "stream_decontaminate_ingest",
    "stream_semantic_decon_ingest",
    "stream_ann_index_ingest",
    "stream_hll_distinct",
    "stream_cm_heavy_hitters",
    "stream_kmv_overlap",
    "stream_phash_ingest",
    "stream_corpus_ingest",
]

CC_ENTRIES = [
    "llm_corpus_curation",
    "dedup_cluster_components",
    "dedup_cluster_canonical",
    "sample_leakage_safe_split",
    "docs_corpus_report",
    "emb_neardup_components",
    "mm_image_dedup_clusters",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb
    from check_queries import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def _listing(spark) -> list[str]:
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return sorted(os.listdir(wh)) if os.path.isdir(wh) else []


def _assert_matches_oracle(spark, duck, name: str) -> None:
    from check_queries import normalize

    from extract_permits_spark.plans import analytics

    before = _listing(spark)
    got = normalize(analytics.queries()[name](spark, SF_DIR).toPandas())
    want = normalize(duck.execute(analytics.oracle_sql()[name]).df())
    assert _listing(spark) == before, "entry wrote into the warehouse"
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    assert got.equals(want)


@pytest.mark.parametrize("name", STREAM_ENTRIES)
def test_stream_entry_matches_batch_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


@pytest.mark.parametrize("name", CC_ENTRIES)
def test_components_entry_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)
