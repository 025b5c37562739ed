"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process: start the Spark session the
program ships (``local[$SPARK_GRAFT_CPUS]``, default ``nproc``), generate
the workload's inputs from the seed, time a first (cold) run, warm up,
then run the workload in a closed loop for at least ``--seconds``.  Every
run's output is checked outside the timed section.  The last stdout line
is the result JSON; the line before it carries the host/config
fingerprint and the raw samples.  ``--trace 1`` adds traced runs and
reports the per-layer metrics instead of the end-to-end ones.  Scratch
files live under ``.bench_work/`` and are removed at exit; a traced run
writes its spans to ``.bench_out/``.  The process is the subreaper of
everything it starts (the JVM, its Python workers, the DuckDB child) and
waits for all of it to end before it exits, on every way out.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Per workload: untimed warm-up runs after the first run, and the least
# number of measured runs whatever --seconds says.  Warm runs keep getting
# faster for several iterations as the JVM compiles the hot paths, so the
# measured runs start only after the warm-up; every process pays a cold
# JVM, and a full schedule of benchmark runs has a fixed time budget
# (about a minute per process on a 4-vCPU host).
WARMUP = {"permit_batch": 2, "corpus_curation": 2}
MIN_RUNS = {"permit_batch": 3, "corpus_curation": 3}
SETUP_REPEATS = 3
TRACED_RUNS = 2


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``kind`` (``end_to_end`` or ``per_layer``),
    as BENCHMARK.json at the repository root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its stdin
    closes, taking its Python workers with it), and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            try:
                gateway.shutdown()
            finally:
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=120)


def on_term(*_) -> None:
    """A TERM leaves through the clean-up in ``main`` like any other way
    out; a second one must not cut that clean-up short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    from perfbench import host

    host.become_subreaper()
    signal.signal(signal.SIGTERM, on_term)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    spark = bench = None
    try:
        from extract_permits_spark.session import get_spark

        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_start = time.perf_counter() - t
        bench = Bench(args, spark, work, session_start, WORKLOADS[args.workload])
        result = bench.measure()
    finally:
        try:
            if bench is not None:
                bench.duck.close()
        finally:
            try:
                if spark is not None:
                    stop_spark(spark)
            finally:
                killed = host.reap_children()
                if killed:
                    print(f"killed processes left running at exit: {killed}", file=sys.stderr)
                shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["detail"], sort_keys=True))
    print(json.dumps(result["line"]))
    return 0


class Bench:
    """Runs one workload in one process and assembles the result."""

    def __init__(self, args, spark, work, session_start, workload_cls) -> None:
        from perfbench.duck import Duck
        from perfbench.sparkstats import StatusStore
        from perfbench.trace import Tracer

        self.args = args
        self.spark = spark
        self.work = work
        self.session_start = session_start
        self.session_up = time.perf_counter() - T_START
        self.tracer = Tracer(False)
        self.duck = Duck()
        self.wl = workload_cls(spark, work, args.seed, self.tracer, self.duck)
        self.store = StatusStore(spark)
        self.records: list[dict] = []
        self.peak_rss = 0.0

    def setup(self) -> tuple[float, list[float], dict]:
        """Generate the inputs SETUP_REPEATS times (the last set is used);
        set-up time is process start to session up plus the median
        generation time.  The checks' reference answers come after, untimed."""
        from statistics import median

        gen_s: list[float] = []
        rows: dict = {}
        for k in range(SETUP_REPEATS):
            d = os.path.join(self.work, f"inputs-{k}")
            os.makedirs(d)
            t = time.perf_counter()
            rows = self.wl.setup(d)
            gen_s.append(time.perf_counter() - t)
            if k:
                shutil.rmtree(os.path.join(self.work, f"inputs-{k - 1}"), ignore_errors=True)
        self.wl.reference()
        return self.session_up + median(gen_s), gen_s, rows

    def one(self, i: int, phase: str, traced: bool = False) -> dict:
        """One run: timed, its Spark counters taken, its output checked."""
        from perfbench import host

        wl = self.wl
        wl.before_run()
        rec = {"i": i, "phase": phase, "load_before": host.loadavg_1m()}
        self.store.snapshot()
        self.tracer.enabled = traced
        steal = host.steal_s()
        t = time.perf_counter()
        try:
            if traced:
                with self.tracer.run(i), wl.traced():
                    wl.run(i)
            else:
                wl.run(i)
            err = None
        except Exception:  # a failed run is counted, reported and skipped
            err = traceback.format_exc()
        rec["wall_s"] = time.perf_counter() - t
        rec["steal_s"] = host.steal_s() - steal
        self.tracer.enabled = False
        rec["spark"] = self.store.snapshot()
        if err is None:
            try:
                if traced:
                    rec["counters"] = wl.counters(i)
                err = wl.check(i)
            except Exception:
                err = traceback.format_exc()
        rec["ok"] = err is None
        if err is not None:
            print(f"[{wl.name} run {i} {phase}] FAILED: {err}", file=sys.stderr)
        rec["load_after"] = host.loadavg_1m()
        self.peak_rss = max(self.peak_rss, host.tree_peak_rss_mb(exclude=self.duck.pid))
        wl.cleanup_run(i)
        self.store.snapshot()  # the check's own jobs are not the run's
        self.records.append(rec)
        return rec

    def measure(self) -> dict:
        from statistics import median

        args, name = self.args, self.wl.name
        setup_s, gen_s, rows = self.setup()
        first = self.one(0, "first")
        i = 1
        for _ in range(WARMUP[name]):
            self.one(i, "warmup")
            i += 1
        t0 = time.perf_counter()
        measured = []
        while time.perf_counter() - t0 < args.seconds or len(measured) < MIN_RUNS[name]:
            measured.append(self.one(i, "measured"))
            i += 1
        traced = [self.one(i + k, "traced", traced=True) for k in range(TRACED_RUNS)] if args.trace else []

        good = [r for r in measured if r["ok"]]
        attempted = len(self.records)
        failed = sum(not r["ok"] for r in self.records)
        detail = {
            "workload": name,
            "seed": args.seed,
            "fingerprint": self.fingerprint(rows),
            "setup_generation_s": gen_s,
            "session_start_s": self.session_start,
            "runs": [
                {k: r[k] for k in ("i", "phase", "wall_s", "steal_s", "ok", "load_before", "load_after")}
                | {"gc_s": r["spark"]["gc_s"], "stages": r["spark"]["stages"]}
                for r in self.records
            ],
        }
        if traced:
            detail["traced_layer_shares"] = self.layer_shares(traced)
        line = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": {}}
        if good and first["ok"]:
            if args.trace:
                units = metric_units("per_layer")
                metrics = self.layer_metrics(units, good, traced, failed / attempted)
            else:
                units = metric_units("end_to_end")
                metrics = {
                    "setup_s": setup_s,
                    "first_run_s": first["wall_s"],
                    "wall_s": median([r["wall_s"] for r in good]),
                }
            line["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
        return {"detail": detail, "line": line}

    def layer_metrics(
        self, names, measured: list[dict], traced: list[dict], failed_frac: float
    ) -> dict:
        """Per-layer self times and the workload's counters (medians over
        the traced runs), and Spark's counters (medians over the untraced
        measured runs)."""
        from statistics import median

        out = {k: 0.0 for k in names}
        out["session.start_s"] = self.session_start
        ok_traced = [r for r in traced if r["ok"]]
        per_run = self.traced_self_times(ok_traced)
        for n in {n for st in per_run for n in st}:
            if f"{n}_s" in out:
                out[f"{n}_s"] = median([st.get(n, 0.0) for st in per_run])
        for k in {k for r in ok_traced for k in r["counters"]}:
            if k in out:
                out[k] = median([r["counters"][k] for r in ok_traced])
        rows = median([r["counters"].get("sinks.workbook_rows", 0) for r in ok_traced] or [0])
        io_s = out["sinks.workbook_write_s"] + out["sinks.workbook_read_s"]
        if rows and io_s > 0:
            out["sinks.workbook_rows_per_s"] = rows / io_s
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            out[f"spark.{k}"] = median([r["spark"][k] for r in measured])
        out["spark.core_busy_frac"] = median(
            [r["spark"]["executor_run_ms"] / 1000.0 / (r["wall_s"] * cores) for r in measured]
        )
        out["spark.peak_rss_mb"] = self.peak_rss
        out["failed_frac"] = failed_frac
        if ok_traced:
            out["trace.overhead_s"] = median([r["wall_s"] for r in ok_traced]) - median(
                [r["wall_s"] for r in measured]
            )
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        self.tracer.write(os.path.join(out_dir, f"spans-{self.wl.name}-seed{self.args.seed}.json"))
        return out

    def traced_self_times(self, traced: list[dict]) -> list[dict[str, float]]:
        from perfbench.trace import self_times

        return [self_times(self.tracer.spans, run_id=r["i"]) for r in traced]

    def layer_shares(self, traced: list[dict]) -> dict[str, float]:
        """Each span name's share of the traced run's wall time (median
        over the traced runs); ``run`` is the time outside every layer."""
        from statistics import median

        ok = [r for r in traced if r["ok"]]
        per_run = [
            {n: v / r["wall_s"] for n, v in st.items()}
            for r, st in zip(ok, self.traced_self_times(ok))
        ]
        names = sorted({n for st in per_run for n in st})
        return {n: round(median([st.get(n, 0.0) for st in per_run]), 4) for n in names}

    def fingerprint(self, rows: dict) -> dict:
        import pyspark

        from perfbench import host

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": host.nproc(),
            "mem_total_kb": host.mem_total_kb(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark_driver_memory": self.spark.conf.get("spark.driver.memory", None),
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "input_rows": rows,
        }


if __name__ == "__main__":
    sys.exit(main())
