"""Self-tests for the benchmark's own logic.

    python3 -m pytest perfbench -q -p no:cacheprovider

Pure-Python checks, plus one tiny local Spark job (well under sf0.001)
for the status-store reader.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.sparkstats import StatusStore, stage_delta  # noqa: E402
from perfbench.trace import Span, Tracer, covered, self_times  # noqa: E402


def _span(name, start, end, parent=None, run_id=0):
    return Span(name, start, end, parent, run_id)


def test_self_time_subtracts_nested_children():
    spans = [
        _span("run", 0.0, 10.0),
        _span("a", 1.0, 5.0, parent=0),
        _span("b", 2.0, 3.0, parent=1),  # grandchild: only a's child
    ]
    st = self_times(spans)
    assert st["run"] == pytest.approx(6.0)
    assert st["a"] == pytest.approx(3.0)
    assert st["b"] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    # children overlap each other and one sticks out past the parent
    spans = [
        _span("p", 0.0, 10.0),
        _span("c", 1.0, 4.0, parent=0),
        _span("c", 3.0, 6.0, parent=0),
        _span("d", 8.0, 12.0, parent=0),
    ]
    st = self_times(spans)
    assert st["p"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["c"] == pytest.approx(6.0)  # summed per name


def test_covered_union_and_clip():
    assert covered([], 0, 1) == 0
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert covered([(11, 12)], 0, 10) == 0


def test_self_times_filter_by_run():
    spans = [_span("x", 0, 1, run_id=1), _span("x", 0, 2, run_id=2)]
    assert self_times(spans, run_id=2) == {"x": pytest.approx(2.0)}


def test_tracer_records_parent_and_run_ids():
    tr = Tracer(True)
    with tr.run(7):
        with tr.span("outer"):
            with tr.span("inner"):
                pass
    names = [(s.name, s.parent, s.run_id) for s in tr.spans]
    assert names == [("run", None, 7), ("outer", 0, 7), ("inner", 1, 7)]
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.run(1):
        with tr.span("x"):
            pass
    assert tr.spans == []


def test_stage_delta_counts_only_new_complete_stages():
    stages = [
        {"stageId": 5, "status": "COMPLETE", "numCompleteTasks": 4, "executorRunTime": 100,
         "shuffleWriteBytes": 10, "memoryBytesSpilled": 1, "diskBytesSpilled": 2},
        {"stageId": 4, "status": "SKIPPED", "numCompleteTasks": 0, "executorRunTime": 0,
         "shuffleWriteBytes": 0, "memoryBytesSpilled": 0, "diskBytesSpilled": 0},
        {"stageId": 3, "status": "COMPLETE", "numCompleteTasks": 2, "executorRunTime": 50,
         "shuffleWriteBytes": 5, "memoryBytesSpilled": 0, "diskBytesSpilled": 0},
        {"stageId": 2, "status": "COMPLETE", "numCompleteTasks": 9, "executorRunTime": 999,
         "shuffleWriteBytes": 99, "memoryBytesSpilled": 0, "diskBytesSpilled": 0},
    ]
    d = stage_delta(stages, after_id=2)
    assert d == {"stages": 2, "tasks": 6, "executor_run_ms": 150,
                 "shuffle_write_bytes": 15, "spill_bytes": 3}
    assert stage_delta(stages, after_id=5)["stages"] == 0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-selftest")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    from perfbench.run import stop_spark

    stop_spark(s)  # and wait for the JVM to exit


def test_status_store_deltas_are_per_run(spark):
    store = StatusStore(spark)
    df = spark.range(0, 200, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
    df.write.format("noop").mode("overwrite").save()
    first = store.snapshot()
    assert first["stages"] >= 1 and first["tasks"] >= first["stages"]
    assert first["shuffle_write_bytes"] > 0
    assert store.snapshot()["stages"] == 0  # nothing ran since
    df.write.format("noop").mode("overwrite").save()
    again = store.snapshot()
    assert again["stages"] == first["stages"]
    assert again["shuffle_write_bytes"] == first["shuffle_write_bytes"]


def test_digest_detects_a_changed_row():
    from perfbench.workloads import digest_sql

    db = duckdb.connect()
    db.execute("CREATE TABLE good AS SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)")
    db.execute("CREATE TABLE shuffled AS SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(k, v)")
    db.execute("CREATE TABLE bad AS SELECT * FROM (VALUES (1, 'a'), (2, 'c')) t(k, v)")
    good = db.execute(digest_sql(["k", "v"], "good")).fetchone()
    assert db.execute(digest_sql(["k", "v"], "shuffled")).fetchone() == good
    bad = db.execute(digest_sql(["k", "v"], "bad")).fetchone()
    assert bad[0] == good[0] and bad != good


def _write_batches(root, batches):
    for b, rows in batches.items():
        d = os.path.join(root, f"batch={b}")
        os.makedirs(d)
        pq.write_table(
            pa.table({"pin": [r[0] for r in rows], "permit_number": [r[1] for r in rows]}),
            os.path.join(d, "part-0.parquet"),
        )


def test_upload_batch_check_rejects_bad_outputs(tmp_path):
    from perfbench.workloads import check_upload_batches

    db = duckdb.connect()

    def sql(q):
        return db.execute(q).fetchall()

    keys = sorted((f"{i:014d}", f"2{i:08d}") for i in range(5))
    good = tmp_path / "good"
    _write_batches(str(good), {0: keys[:2], 1: keys[2:4], 2: keys[4:]})
    assert check_upload_batches(sql, str(good), 5, 2, keys) is None
    # a batch directory short: 5 rows at 2 per batch need 3
    short = tmp_path / "short"
    _write_batches(str(short), {0: keys[:3], 1: keys[3:]})
    assert "batch directories" in check_upload_batches(sql, str(short), 5, 2, keys)
    # right shape, one PIN not remapped
    wrong = tmp_path / "wrong"
    bad_keys = [("99999999999999", keys[0][1])] + keys[1:]
    _write_batches(str(wrong), {0: bad_keys[:2], 1: bad_keys[2:4], 2: bad_keys[4:]})
    assert "do not match" in check_upload_batches(sql, str(wrong), 5, 2, keys)


def test_duck_child_runs_sql_and_reports_errors():
    from perfbench.duck import Duck

    duck = Duck()
    try:
        assert duck.pid != os.getpid()
        duck.rows("CREATE TABLE t AS SELECT range AS k FROM range(4)")
        assert duck.one("SELECT sum(k) FROM t") == (6,)
        with pytest.raises(RuntimeError, match="duckdb"):
            duck.rows("SELECT no_such_column FROM t")
        assert duck.one("SELECT count(*) FROM t") == (4,)  # still serving
    finally:
        duck.close()


def test_reap_children_waits_for_orphans_and_kills_stragglers():
    import subprocess
    import textwrap

    # In a child process that is its own subreaper: a shell starts a short
    # and a long sleep in the background and exits, orphaning both.
    code = textwrap.dedent(
        """
        import subprocess, sys
        sys.path.insert(0, sys.argv[1])
        from perfbench import host
        host.become_subreaper()
        subprocess.run(["sh", "-c", "sleep 0.2 & sleep 60 &"], check=True)
        killed = host.reap_children(grace_s=1.0)
        assert host._children().get(__import__("os").getpid(), []) == []
        print(len(killed))
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code, root], capture_output=True, text=True, timeout=30)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "1"  # only the 60 s sleep had to be killed


class _Acc:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def test_record_server_counts_decoded_and_served():
    from perfbench.records import CountingFetch, permit_record

    decoded, served = _Acc(), _Acc()

    def fetch(url, params):
        recs = [permit_record({"permit_": str(k), "issue_ts": k}, decoded) for k in range(5)]
        return recs[:3]  # the server's own filter drops two

    assert CountingFetch(fetch, served)("u", {}) == [{"permit_": "0"}, {"permit_": "1"}, {"permit_": "2"}]
    assert (decoded.value, served.value) == (5, 3)


def _hooked_workload(module, layers):
    from perfbench.workloads import Workload

    class W(Workload):
        HOOKS = tuple((module, n, f"layer.{n}", True, False) for n in layers)

    return W(None, "", 0, Tracer(True), None)


def test_traced_hooks_wrap_the_program_and_restore_it():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1, g=lambda x: x * 2)
    orig = mod.f
    wl = _hooked_workload(mod, ["f", "g"])
    with wl.tr.run(1), wl.traced():
        assert mod.g(mod.f(1)) == 4  # the program calls through the wrappers
    assert mod.f is orig
    names = [s.name for s in wl.tr.spans]
    assert names == ["run", "layer.f", "plans.build", "layer.g", "plans.build"]
    assert wl.outputs == {"layer.f": 2, "layer.g": 4}


def test_traced_run_fails_when_a_hooked_layer_is_not_called():
    import types

    mod = types.SimpleNamespace(f=lambda x: x, g=lambda x: x)
    wl = _hooked_workload(mod, ["f", "g"])
    with pytest.raises(RuntimeError, match="layer.g"):
        with wl.tr.run(1), wl.traced():
            mod.f(1)


def test_untraced_layer_is_a_plain_call():
    from perfbench.workloads import Workload

    wl = Workload(None, "", 0, Tracer(False), None)
    assert wl.layer("x", lambda: 7) == 7
    assert wl.tr.spans == [] and wl.outputs == {}


def test_generated_documents_keep_the_fixture_shape(tmp_path):
    from perfbench import gen

    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    gen.documents_table(str(a), 5, 2_000)
    gen.documents_table(str(b), 5, 2_000)
    ta = pq.read_table(a / "documents.parquet")
    assert ta.equals(pq.read_table(b / "documents.parquet"))  # seeded
    texts = ta["text"].to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == 100  # 5% near duplicates
    assert len(texts) - len(set(texts)) == 3  # 0.16% exact twins
    words = {w for t in texts for w in t.split()}
    assert words == set(gen.VOCAB) | {"dup"}
    assert all(10 <= len(t.split()) <= 100 for t in texts)


def test_generated_orders_fall_inside_the_fixture_dates(tmp_path):
    from perfbench import gen

    rows = gen.tpch_tables(str(tmp_path), 3, 1_000)
    o = pq.read_table(tmp_path / "orders.parquet")
    dates = o["o_orderdate"].to_pylist()
    assert str(min(dates)) >= "1995-01-01" and str(max(dates)) <= "2001-08-01 00:00:00"
    assert rows["customer"] == 100
    assert 3_600 < rows["lineitem"] < 4_400  # Poisson(4) lines per order


def test_peak_rss_tree_leaves_out_the_excluded_subtree():
    from perfbench import host

    me = os.getpid()
    assert me in host.descendants(me)
    assert host.descendants(me, exclude=me) == []
