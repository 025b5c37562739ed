"""Connected components + canonical-per-cluster (operators/graph.py)."""

import pytest
from pyspark.sql import functions as F

from extract_permits_spark.operators.graph import (
    canonical_per_cluster,
    connected_components,
    symmetric_edges,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_chain_and_separate_pair(spark):
    # chain 1-2-3-4 (diameter 3, needs multiple propagation rounds) plus
    # a disjoint pair 10-11
    comp = connected_components(
        _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    )
    got = {r.id: r.component for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_triangle_with_tail_and_reversed_edges(spark):
    # labels must flow against edge direction too (5,2): min id 2 wins
    comp = connected_components(_edges(spark, [(3, 4), (4, 5), (5, 3), (5, 2)]))
    got = {r.id: r.component for r in comp.collect()}
    assert got == {2: 2, 3: 2, 4: 2, 5: 2}


def test_long_chain_hits_round_cap(spark):
    chain = [(i, i + 1) for i in range(1, 60)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges(spark, chain), max_rounds=3)


def test_symmetric_edges_plan_the_edge_frame_once(spark, tmp_path):
    """Both orientations come from ONE copy of the edge plan: a lazy
    edge frame (here a parquet scan standing in for the near-dup pair
    join) is scanned once, not once per orientation."""
    path = str(tmp_path / "edges")
    _edges(spark, [(1, 2), (2, 3), (3, 1)]).write.parquet(path)
    edges = spark.read.parquet(path).where(F.col("id_a") > 0)
    sym = symmetric_edges(edges, "id_a", "id_b")
    leaves = sym._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 1
    got = sorted((r.u, r.v) for r in sym.collect())
    assert got == sorted([(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)])


def test_one_round_graph_runs_a_fixed_number_of_jobs(spark):
    """A graph that converges in one checked round (a triangle plus a
    pair) runs exactly: 2 jobs for the checkpointed symmetric edge list
    (its one shuffle stage + the checkpoint) and 7 for round 1, which
    computes the seed labels too (AQE submits each shuffle and broadcast
    stage as a job of its own). Building the edge list from two copies
    of the edge plan, or checkpointing the seed labels in a job of
    their own, adds jobs."""
    sc = spark.sparkContext
    edges = _edges(spark, [(1, 2), (2, 3), (1, 3), (10, 11)])
    group = "test_one_round_graph_jobs"
    sc.setJobGroup(group, group)
    try:
        comp = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 9
    got = {r.id: r.component for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_canonical_picks_highest_quality_then_lowest_id(spark):
    comp = connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11)]))
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 1), (11, 1)], "doc_id long, q long"
    )
    out = {
        r.component: (r.canonical_id, r.cluster_size)
        for r in canonical_per_cluster(comp, docs, quality_col="q").collect()
    }
    # cluster {1,2,3}: quality tie 9 between 2 and 3 -> lowest id 2
    # cluster {10,11}: tie -> 10
    assert out == {1: (2, 3), 10: (10, 2)}


def test_canonical_without_quality_is_min_id(spark):
    comp = connected_components(_edges(spark, [(7, 5), (5, 9)]))
    docs = spark.createDataFrame([(5,), (7,), (9,)], "doc_id long")
    out = canonical_per_cluster(comp, docs).collect()
    assert len(out) == 1
    assert (out[0].component, out[0].canonical_id, out[0].cluster_size) == (5, 5, 3)


def test_collapsed_edges_components_equal_full_pair_graph(spark, tmp_path):
    """The r7 exact-collapse-first optimization's proof obligation, run
    empirically: components over _collapsed_edges (pair join on
    distinct-text representatives + twin star edges) must equal
    components over the FULL shared-shingle pair graph — on the real
    fixture AND on a twin-amplified copy (each doc duplicated 3x, the
    dup-heavy shape the collapse exists for)."""
    import os

    from pyspark.sql import functions as F

    from extract_permits_spark.plans import analytics
    from extract_permits_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"

    def comps_of(edges):
        return {
            (r["id"], r["component"])
            for r in connected_components(edges).collect()
        }

    # 1x fixture: collapsed vs full pair graph
    full = analytics._jaccard_pairs_uncached(spark, sf).select("id_a", "id_b")
    collapsed = analytics._collapsed_edges(spark, sf)
    assert comps_of(collapsed) == comps_of(full)

    # 3x twins: every doc gains 2 exact copies with shifted ids
    docs = load_table(spark, sf, "documents")
    amp = docs
    for c in (1, 2):
        amp = amp.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(c * 10**7))
        )
    amp_dir = str(tmp_path / "amp")
    amp.write.parquet(os.path.join(amp_dir, "documents.parquet"))
    full3 = analytics._jaccard_pairs_uncached(spark, amp_dir).select("id_a", "id_b")
    coll3 = analytics._collapsed_edges(spark, amp_dir)
    got, want = comps_of(coll3), comps_of(full3)
    assert got == want
    # and the collapse actually collapses: far fewer edges than the
    # full graph (every twin pair materializes there)
    assert coll3.count() < full3.count()


def test_lpa_communities_splits_bridged_cliques(spark):
    """Two 4-cliques joined by a single bridge edge: components says one
    blob, LPA's 4 synchronous min-tie-break rounds must keep two
    communities (each clique converges to its min member's label).
    Verified against a Python replay of the exact update rule."""
    from pyspark.sql import functions as F

    from extract_permits_spark.plans.analytics_events import _LPA_ROUNDS

    cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    bridge = [(3, 10)]
    pairs = spark.createDataFrame(cl1 + cl2 + bridge, "id_a long, id_b long")

    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = cnt.groupBy("node").agg(
            F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m")
        )
        labels = best.select("node", (-F.col("m.nl")).alias("lbl"))
    got = {r["node"]: r["lbl"] for r in labels.collect()}

    # python replay of the same synchronous rule
    adj: dict[int, list[int]] = {}
    for a, b in cl1 + cl2 + bridge:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {v: v for v in adj}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for v, ns in adj.items():
            freq: dict[int, int] = {}
            for u in ns:
                freq[lab[u]] = freq.get(lab[u], 0) + 1
            new[v] = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lab = new
    assert got == lab
    # and the two cliques keep distinct communities
    assert {got[v] for v in range(4)} != {got[v] for v in range(10, 14)}
