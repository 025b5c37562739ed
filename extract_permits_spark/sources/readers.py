"""Parquet readers (SURVEY.md §1.3).

The reference ingests schemaless JSON/Excel and fixes the schema
declaratively downstream (reference: chicago/permit_cleaning.py:553,
643-665). Here the schema comes from the parquet files themselves:
``load_table`` reads each table with ``spark.read.parquet``, which
infers the schema from the file footers in one Spark job per call (a
``llm_corpus_curation`` run makes 3 such calls). ``TABLES`` lists the
known tables' columns; it does not type them. Every plan still gets
full column pruning and predicate pushdown from Catalyst.

At 100 TB the fact tables (lineitem / orders / events / documents) are
assumed hive-partitioned or bucketed on their natural keys; partition
pruning falls out of Catalyst once the layout exists.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Column names of the driver-generated tables (TESTDATA.md). Timestamp
# columns are read as written (ms/ns precision parquet); Spark 4 infers NTZ
# for non-UTC-adjusted parquet timestamps, which keeps semantics
# timezone-independent and aligned with the DuckDB oracle.
TABLES = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; column pruning/pushdown left to Catalyst."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def probe_events_ts_unit(path: str) -> str:
    """Inspect the parquet footer and return the ts column's time unit
    ('ns' | 'us' | 'ms' | 's' | 'int64').

    The driver's fixture has changed precision across rounds (TIMESTAMP(NANOS)
    → timestamp[us]); hard-coding either breaks loudly in batch and —
    far worse — silently in streaming. Schema assumptions about external
    data are verified at read time, never assumed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a directory of part files or a single file both appear in the wild
    probe = path
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(".")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        probe = os.path.join(path, parts[0])
    field = pq.read_schema(probe).field("ts")
    if pa.types.is_timestamp(field.type):
        return field.type.unit  # 'ns' | 'us' | 'ms' | 's'
    if pa.types.is_int64(field.type):
        return "int64"
    raise TypeError(f"unsupported events.ts type {field.type} in {probe}")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with a footer-probed ts strategy.

    - timestamp[us]/[ms]/[s] (isAdjustedToUTC=false): Spark 4 reads it as
      TIMESTAMP_NTZ natively (inferTimestampNTZ); cast pins the type.
    - timestamp[ns]: Spark's vectorized reader rejects TIMESTAMP(NANOS);
      read nanos as long and rebuild TIMESTAMP_NTZ at microsecond
      precision (matching DuckDB's nanos→micros truncation).
    - plain int64: treated as epoch nanos (the legacy fixture layout).

    Session timezone is pinned to UTC so any LTZ↔NTZ rendering is
    environment-independent."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "events.parquet")
    unit = probe_events_ts_unit(path)
    if unit in ("ns", "int64"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        return df.withColumn(
            "ts",
            F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long")).cast(
                "timestamp_ntz"
            ),
        )
    df = spark.read.parquet(path)
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


# Permit-domain ingest schemas (FIXTURES.md §1-§6). All-string at ingest,
# mirroring the reference where JSON/Excel arrive untyped
# (reference: chicago/permit_cleaning.py:552-553, legacy_permits/helper.R:92-95);
# typing happens in the cleaning expressions (operators/clean.py).
PERMITS_RAW_SCHEMA = T.StructType(
    [
        T.StructField(c, T.StringType())
        for c in [
            "permit_",
            "issue_date",
            "reported_cost",
            "street_number",
            "street_direction",
            "street_name",
            "suffix",
            "contact_1_name",
            "work_description",
            "pin_list",
        ]
    ]
)

PIN_UNIVERSE_SCHEMA = T.StructType(
    [
        T.StructField(c, T.StringType())
        for c in ["pin", "pin10", "prop_address_full", "year", "triad_name"]
    ]
)

IASWORLD_PERMIT_SCHEMA = T.StructType(
    [
        T.StructField("parid", T.StringType()),
        T.StructField("permdt", T.StringType()),
        T.StructField("amount", T.DecimalType(38, 2)),
        T.StructField("note2", T.StringType()),
        T.StructField("user21", T.StringType()),
        T.StructField("user28", T.StringType()),
        T.StructField("user43", T.StringType()),
    ]
)

CROSSWALK_SCHEMA = T.StructType(
    [
        T.StructField(c, T.StringType())
        for c in ["meta_pin", "original_pin", "year", "tab"]
    ]
)
