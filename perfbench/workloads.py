"""The benchmark workloads.

Each workload generates its inputs from the seed (``setup``, timed as
set-up), computes the reference answers its checks compare against
(``reference``, untimed), runs one closed-loop job (``run``) and checks
that run's outputs (``check``, outside the timed section).

Traced and untraced runs execute the same ``run``.  For a traced run,
``traced()`` replaces the program's layer functions where the program
looks them up (``HOOKS``: module attributes such as
``permits.clean_permits``) with wrappers that open a span, time the
plan construction as ``plans.build`` and force the layer's output
(persist + noop sink), so a span's self time is that layer's work and
the spans follow whatever composition the program has.  The benchmark's
own calls into a layer go through ``layer``, which does the same.  A
hooked layer the program no longer calls fails the traced run rather
than reading 0.  Counters come from the program's outputs and from its
record server, after the timed section (``counters``).  The traced
run's output is checked like any other.
"""

from __future__ import annotations

import functools
import math
import os
import shutil
import zipfile
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import extract_permits_spark.operators.graph as graph
from extract_permits_spark.operators.dedup import canonicalize_for_dedup
from extract_permits_spark.plans import _registry, analytics
from extract_permits_spark.plans import permits
from extract_permits_spark.plans.analytics_core import _PIPE_BASE_SQL
from extract_permits_spark.plans.legacy import CANONICAL_COLUMNS, run_legacy_pipeline
from extract_permits_spark.session import free_scratch_checkpoints
from extract_permits_spark.sinks.excel_sink import (
    flagged_rows_from_frame,
    read_reviewed_workbook,
    save_workbook,
)
from extract_permits_spark.sinks.writers import write_upload_batches
from extract_permits_spark.sinks.xlsx_io import SheetSpec, write_xlsx
from extract_permits_spark.sources.socrata import fake_fetch_from_parquet, read_socrata
from extract_permits_spark.specs import PERMIT_COLUMNS

from perfbench import gen, records


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring markers and checksums."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def digest_sql(cols: list[str], source: str) -> str:
    """Row count and order-insensitive digest of ``cols`` over ``source``."""
    row = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return f"SELECT count(*), COALESCE(sum(hash({row})::HUGEINT), 0) FROM {source}"


def xlsx_data_rows(path: str) -> int:
    """Data rows of the first sheet of a workbook (header excluded)."""
    with zipfile.ZipFile(path) as z:
        return z.read("xl/worksheets/sheet1.xml").count(b"<row ") - 1


def check_upload_batches(sql, path: str, marked: int, batch: int, expected_keys: list) -> str | None:
    """Upload rows = the marked cells' rows (after the crosswalk remap),
    in ceil(rows / batch) batch directories.  ``sql`` runs a DuckDB query
    and returns its rows.  None when they match."""
    dirs = [n for n in os.listdir(path) if n.startswith("batch=")]
    want = math.ceil(marked / batch)
    if len(dirs) != want:
        return f"{len(dirs)} batch directories, want ceil({marked}/{batch}) = {want}"
    keys = sorted(
        tuple(r)
        for r in sql(f"SELECT pin, permit_number FROM read_parquet('{path}/batch=*/*.parquet')")
    )
    if keys != expected_keys:
        return f"{len(keys)} upload rows do not match the {marked} marked cells"
    return None


# permits_from_frames over the generated tables, as Socrata records plus
# the ``issue_ts`` column the record server prunes row groups on
RECORDS_SQL = """
    WITH pins AS (
      SELECT l_orderkey, string_agg(DISTINCT pin, ' | ' ORDER BY pin) AS pin_list
      FROM (SELECT l_orderkey,
                   lpad(CAST(l_partkey % (SELECT count(*) FROM customer) AS VARCHAR), 14, '0')
                     AS pin
            FROM lineitem)
      GROUP BY l_orderkey
    )
    SELECT '1' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0') AS permit_,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') AS issue_date,
           CAST(o_totalprice AS VARCHAR) AS reported_cost,
           CAST(o_custkey AS VARCHAR) AS street_number,
           'N' AS street_direction,
           o_orderpriority AS street_name,
           CAST(NULL AS VARCHAR) AS suffix,
           o_orderstatus AS contact_1_name,
           'CONSTRUCT GARAGE AND REPAIR PORCH FOR ORDER ' || CAST(o_orderkey AS VARCHAR)
             AS work_description,
           p.pin_list,
           o_orderdate AS issue_ts
    FROM orders o LEFT JOIN pins p ON o.o_orderkey = p.l_orderkey
    ORDER BY issue_ts, permit_
"""


class Workload:
    """Base: holds the session, tracer, DuckDB child and work directory
    of one process."""

    name = ""
    # (module, attribute, span name, lazy, persist) of the program's
    # layer functions a traced run wraps; see ``layer``
    HOOKS: tuple = ()

    def __init__(self, spark, work: str, seed: int, tracer, duck) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.duck = duck
        self.outputs: dict = {}
        self._entered: set[str] = set()
        self._persisted: list = []

    def layer(self, name: str, call, lazy: bool = True, persist: bool = True):
        """``call()`` enters one layer and returns its output DataFrame.
        Untraced, that is all.  Traced, it runs inside span ``name``: a
        lazy layer's call is timed as the child span ``plans.build``, and
        with ``persist`` the output is materialized there so the next
        layer reads it instead of recomputing it."""
        tr = self.tr
        if not tr.enabled:
            return call()
        self._entered.add(name)
        with tr.span(name):
            if lazy:
                with tr.span("plans.build"):
                    df = call()
            else:
                df = call()
            if persist:
                df = df.persist()
                force(df)
                self._persisted.append(df)
        self.outputs[name] = df
        return df

    @contextmanager
    def traced(self):
        """Wrap the ``HOOKS`` for one traced run, then put them back.
        Fails if the program did not call one of them."""
        saved = []
        for mod, attr, name, lazy, persist in self.HOOKS:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))

            def wrapped(*a, _fn=fn, _name=name, _lazy=lazy, _persist=persist, **k):
                return self.layer(_name, lambda: _fn(*a, **k), _lazy, _persist)

            setattr(mod, attr, functools.wraps(fn)(wrapped))
        self._entered = set()
        self.outputs = {}
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)
        missing = sorted({h[2] for h in self.HOOKS} - self._entered)
        if missing:
            raise RuntimeError(f"the program never called the hooked layers {missing}")

    def release(self) -> None:
        while self._persisted:
            self._persisted.pop().unpersist()

    def before_run(self) -> None:
        """Untimed reset before each run."""

    def counters(self, i: int) -> dict[str, float]:
        """A traced run's counters, read after its timed section."""
        return {}

    def run_dir(self, i: int) -> str:
        return os.path.join(self.work, f"run-{i}")

    def cleanup_run(self, i: int) -> None:
        self.release()
        shutil.rmtree(self.run_dir(i), ignore_errors=True)


class PermitBatch(Workload):
    """The monthly permit cycle: this month's Socrata pull through the
    validated upload set and review workbook, then last month's reviewed
    workbook through the legacy path into 250-row upload batches."""

    name = "permit_batch"
    HOOKS = (
        (permits, "validated_permits", "operators.validate_tag", True, True),
        (permits, "clean_permits", "operators.clean_explode", True, True),
        (permits, "deduplicate_permits", "operators.dedup", True, True),
    )
    N_ORDERS = 15_000
    WINDOWS = 8
    START, END = "1995-01-01", "2001-08-31"
    ROW_GROUP = 1_024
    FLAG_P = 0.5
    CROSSWALK_P = 0.05
    BATCH = 250
    RECORD_COLS = [
        "permit_", "issue_date", "reported_cost", "street_number", "street_direction",
        "street_name", "suffix", "contact_1_name", "work_description", "pin_list",
    ]
    OUT_COLS = [
        "pin", "permit_number", "issue_date", "amount", "applicant_street_address",
        "city_state", "applicant", "work_description", "pin_type", "suggested_pins",
        "property_address", "cookviewer_link", "pin_link", "in_universe", "matched_keywords",
    ]

    def setup(self, d: str) -> dict[str, int]:
        spark, duck = self.spark, self.duck
        tp = os.path.join(d, "tpch")
        os.makedirs(tp)
        rows = gen.tpch_tables(tp, self.seed, self.N_ORDERS)
        _, self.universe = permits.permits_from_tpch(spark, tp)
        for t in ("orders", "lineitem", "customer"):
            duck.rows(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{tp}/{t}.parquet')")
        # The record server's store: the records permits_from_tpch derives
        # from the same tables, sorted by date in small row groups so a
        # date-window request decodes only its own rows.
        rec_path = os.path.join(d, "permit_records.parquet")
        duck.rows(
            f"COPY ({RECORDS_SQL}) TO '{rec_path}' "
            f"(FORMAT parquet, ROW_GROUP_SIZE {self.ROW_GROUP})"
        )
        sc = spark.sparkContext
        self.decoded, self.served = sc.accumulator(0), sc.accumulator(0)
        self.fetch = records.CountingFetch(
            fake_fetch_from_parquet(
                rec_path, self.RECORD_COLS + ["issue_ts"],
                functools.partial(records.permit_record, decoded=self.decoded),
                filter_col_map={"issue_date": "issue_ts"},
            ),
            self.served,
        )
        self.schema = T.StructType([T.StructField(c, T.StringType()) for c in self.RECORD_COLS])
        # One prior run's rows, replayed by the pipeline's oracle SQL (the
        # base of the registered permit_pipeline_upload/_review entries).
        duck.rows(f"CREATE OR REPLACE TABLE prior AS {_PIPE_BASE_SQL} SELECT * FROM final")
        # iasworld-shaped warehouse table: a seeded third of the prior
        # upload rows, keyed the way the dedup canonicalizes them
        duck.rows(
            "CREATE OR REPLACE TABLE third AS SELECT * EXCLUDE (has_error) FROM prior "
            f"WHERE NOT has_error AND hash(permit_number || pin || '{self.seed}') % 3 = 0"
        )
        third_path = os.path.join(d, "third.parquet")
        duck.rows(f"COPY third TO '{third_path}' (FORMAT parquet)")
        self.existing_path = os.path.join(d, "existing.parquet")
        canonicalize_for_dedup(spark.read.parquet(third_path)).select(
            "parid", "permdt", F.col("amount_key").alias("amount"),
            "note2", "user21", "user28", "user43",
        ).write.parquet(self.existing_path)
        rows["permit_records"] = duck.one(f"SELECT count(*) FROM '{rec_path}'")[0]
        rows["existing"] = duck.one("SELECT count(*) FROM third")[0]
        rows.update(self._reviewed_inputs(d))
        return rows

    def _reviewed_inputs(self, d: str) -> dict[str, int]:
        """Last month's review set, returned by the reviewers: as many rows
        as the prior run's review set, with the PIN cell filled on the rows
        they approve; and the PIN crosswalk."""
        n = self.duck.one("SELECT count(*) FROM prior WHERE has_error")[0]
        rng = np.random.default_rng(self.seed + 1)
        pins = [f"{p:014d}" for p in rng.integers(10**12, 10**14 - 1, n)]
        permit_numbers = [f"2{k:08d}" for k in rng.permutation(10**7)[:n]]
        serials = rng.integers(43_000, 45_500, n)
        amounts = rng.integers(100, 2_000_000, n)
        works = ["CONSTRUCT GARAGE", "REPAIR PORCH", "NEW ROOF", "DEMOLISH SHED"]
        who = ["ACME BUILDERS INC", "J SMITH", "NORTH SIDE CONTRACTORS LLC"]
        sheet_rows = [
            [pins[k], permit_numbers[k], int(serials[k]), int(amounts[k]),
             f"{int(rng.integers(1, 9_999))} N MAIN ST", "CHICAGO, IL",
             who[int(rng.integers(0, len(who)))], works[int(rng.integers(0, len(works)))]]
            for k in range(n)
        ]
        flagged = rng.random(n) < self.FLAG_P
        self.reviewed_path = os.path.join(d, "reviewed.xlsx")
        write_xlsx(
            self.reviewed_path,
            [SheetSpec(
                name="Permits", header=list(CANONICAL_COLUMNS), rows=sheet_rows,
                fills={(k, 0): "FFFFFF00" for k in range(n) if flagged[k]},
            )],
        )
        remap = [k for k in range(n) if rng.random() < self.CROSSWALK_P]
        new_pins = [f"{p:014d}" for p in rng.integers(10**12, 10**14 - 1, len(remap))]
        cw = dict(zip((pins[k] for k in remap), new_pins))
        self.cw_path = os.path.join(d, "crosswalk.parquet")
        pq.write_table(
            pa.table({"original_pin": list(cw), "meta_pin": list(cw.values())}), self.cw_path
        )
        self.n_reviewed = n
        self.marked = int(flagged.sum())
        self.expected_keys = sorted(
            (cw.get(pins[k], pins[k]), permit_numbers[k]) for k in range(n) if flagged[k]
        )
        return {"reviewed_rows": n, "marked_cells": self.marked, "crosswalk": len(cw)}

    def reference(self) -> None:
        """This run's upload set is the prior upload rows minus the
        warehouse third; its review set is the prior review rows."""
        self.exp_upload = self.duck.one(digest_sql(
            self.OUT_COLS,
            "(SELECT * FROM prior u WHERE NOT has_error AND NOT EXISTS (SELECT 1 FROM third t "
            "WHERE t.pin = u.pin AND t.permit_number = u.permit_number))",
        ))
        self.exp_review = self.duck.one(
            digest_sql(self.OUT_COLS, "(SELECT * FROM prior WHERE has_error)")
        )

    def run(self, i: int) -> None:
        spark, tr = self.spark, self.tr
        out = self.run_dir(i)
        os.makedirs(out)
        pq_out = os.path.join(out, "validated")
        existing = spark.read.parquet(self.existing_path)
        crosswalk = spark.read.parquet(self.cw_path)
        pulled = self.layer("sources.socrata_pull", lambda: read_socrata(
            spark, "permits", "issue_date", self.START, self.END, self.schema,
            fetch=self.fetch, num_partitions=self.WINDOWS,
        ))
        with tr.span("sinks.parquet_write"):
            permits.write_pipeline_partitioned(pulled, self.universe, pq_out, existing)
        with tr.span("sinks.workbook_write"):
            review = spark.read.parquet(os.path.join(pq_out, "has_error=true"))
            save_workbook(
                review, os.path.join(out, "review.xlsx"), specs=PERMIT_COLUMNS,
                pin_universe=self.universe.select("pin"), errors_col="errors",
            )
        reviewed = self.layer("sinks.workbook_read", lambda: read_reviewed_workbook(
            spark, self.reviewed_path, "Permits", pin_header="pin",
        ), lazy=False)
        self.flagged = flagged_rows_from_frame(reviewed)
        legacy = self.layer(
            "operators.legacy_chain", lambda: run_legacy_pipeline(self.flagged, crosswalk)
        )
        with tr.span("sinks.upload_batches"):
            upload = legacy.where(F.col("valid_row")).select(*CANONICAL_COLUMNS)
            write_upload_batches(
                upload, os.path.join(out, "batches"), ["pin", "permit_number"],
                batch_size=self.BATCH,
            )

    @contextmanager
    def traced(self):
        self._served0, self._decoded0 = self.served.value, self.decoded.value
        with super().traced():
            yield

    def counters(self, i: int) -> dict[str, float]:
        out = self.run_dir(i)
        served = self.served.value - self._served0
        decoded = self.decoded.value - self._decoded0
        files, size = map(
            sum, zip(dir_bytes(os.path.join(out, "validated")), dir_bytes(os.path.join(out, "batches")))
        )
        return {
            "sources.records_fetched": served,
            "sources.fetch_keep_frac": served / decoded,
            "operators.dedup_dropped_frac": 1 - self.outputs["operators.dedup"].count()
            / self.outputs["operators.clean_explode"].count(),
            "operators.flagged_rows": self.flagged.count(),
            "sinks.files_written": files,
            "sinks.bytes_written": size,
            "sinks.workbook_rows": xlsx_data_rows(os.path.join(out, "review.xlsx"))
            + self.n_reviewed,
        }

    def check(self, i: int) -> str | None:
        out = self.run_dir(i)
        pq_out = os.path.join(out, "validated")
        got_up = self.duck.one(
            digest_sql(self.OUT_COLS, f"read_parquet('{pq_out}/has_error=false/*.parquet')")
        )
        got_rv = self.duck.one(
            digest_sql(self.OUT_COLS, f"read_parquet('{pq_out}/has_error=true/*.parquet')")
        )
        if got_up != self.exp_upload:
            return f"upload rows/digest {got_up} != oracle {self.exp_upload}"
        if got_rv != self.exp_review:
            return f"review rows/digest {got_rv} != oracle {self.exp_review}"
        sheet_rows = xlsx_data_rows(os.path.join(out, "review.xlsx"))
        if sheet_rows != got_rv[0]:
            return f"review workbook has {sheet_rows} rows, review set {got_rv[0]}"
        return check_upload_batches(
            self.duck.rows, os.path.join(out, "batches"), self.marked, self.BATCH,
            self.expected_keys,
        )


class CorpusCuration(Workload):
    name = "corpus_curation"
    HOOKS = (
        (_registry, "_collapsed_edges", "functions.neardup_pairs", True, True),
        # eager: its rounds run actions; its output is a checkpoint already
        (graph, "connected_components", "operators.graph_cc", False, False),
    )
    N_DOCS = 1_500
    QUERY = "llm_corpus_curation"
    OUT_COLS = ["doc_id", "source", "n_toks", "split"]

    def setup(self, d: str) -> dict[str, int]:
        self.docs_dir = d
        self.query = analytics.queries()[self.QUERY]
        return gen.documents_table(d, self.seed, self.N_DOCS)

    def reference(self) -> None:
        """The query's registered oracle SQL."""
        self.duck.rows(
            "CREATE OR REPLACE VIEW documents AS "
            f"SELECT * FROM read_parquet('{self.docs_dir}/documents.parquet')"
        )
        self.duck.rows(f"CREATE OR REPLACE TABLE exp AS {analytics.oracle_sql()[self.QUERY]}")
        self.expected = self.duck.one(digest_sql(self.OUT_COLS, "exp"))

    def before_run(self) -> None:
        _registry.clear_frame_caches()
        free_scratch_checkpoints()

    def run(self, i: int) -> None:
        with self.tr.span("plans.build"):
            self.result = self.query(self.spark, self.docs_dir)
        with self.tr.span("plans.force"):
            force(self.result)

    @contextmanager
    def traced(self):
        """Also count label-propagation rounds: one ``Observation`` per
        round of ``connected_components``."""
        rounds = [0]
        base = graph.Observation

        class CountingObservation(base):
            def __init__(self, *a, **k):
                rounds[0] += 1
                super().__init__(*a, **k)

        graph.Observation = CountingObservation
        try:
            with super().traced():
                yield
        finally:
            graph.Observation = base
        if rounds[0] == 0:
            raise RuntimeError(
                "connected_components created no Observation: the round counter "
                "no longer sees its rounds"
            )
        self.rounds = rounds[0]

    def counters(self, i: int) -> dict[str, float]:
        return {
            "operators.graph_rounds": self.rounds,
            "functions.edge_rows": self.outputs["functions.neardup_pairs"].count(),
        }

    def check(self, i: int) -> str | None:
        path = os.path.join(self.run_dir(i), "result")
        self.result.write.parquet(path)
        got = self.duck.one(digest_sql(self.OUT_COLS, f"read_parquet('{path}/*.parquet')"))
        if got != self.expected:
            return f"curation rows/digest {got} != oracle {self.expected}"
        return None


WORKLOADS = {w.name: w for w in (PermitBatch, CorpusCuration)}
