"""Sources.

Two families:
  1. The driver's TPC-H-ish parquet tables (``load_table``/``register_views``).
  2. The reference pipeline's polymorphic JSON reader (SURVEY §2.1 S4):
     the reference accepts ``{county,total,rows:[...]}`` wrappers, bare
     arrays, and ``data``/``clinics`` keyed variants
     (reference: src/geocode.js:88-99, scripts/check-total.js:29-41).

At 100 TB the parquet path is the real scan: keep reads schema-pruned
(select exactly the needed columns so ReadSchema stays narrow) and let
predicate pushdown reach the file scan — plans in this repo filter on the
raw column before any transformation for that reason.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Filters/projections applied by callers are pushed
    into this parquet scan by Catalyst — do not cache or materialize here.

    ``events.ts`` is physically polymorphic across driver testdata
    generations — observed variants: TIMESTAMP(NANOS) (vanilla Spark
    rejects it, [PARQUET_TYPE_ILLEGAL]; read nanos-as-long and truncate to
    micros, matching µs-native DuckDB exactly), and timestamp[us] with no
    timezone (Spark reads TIMESTAMP_NTZ). This loader is the single
    normalization boundary: whatever the file carries, downstream plans
    always see ``ts`` as session-TZ TIMESTAMP. The session TZ is pinned to
    UTC (session.py), so NTZ→TIMESTAMP preserves the naive values and
    epoch arithmetic agrees with DuckDB's ``epoch()``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql plans."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Polymorphic clinic-domain JSON (reference S4)
# ---------------------------------------------------------------------------

_ROW_KEYS = ("rows", "data", "clinics")


def extract_rows(obj: Any, default_empty: bool = False) -> list[dict]:
    """Normalize the reference's polymorphic JSON shapes to a row list.

    Mirrors src/geocode.js:88-99 + scripts/check-total.js:29-41: accepts a
    bare array, or an object with the first present of rows/data/clinics.

    ``default_empty=True`` is the PREVIOUS-SNAPSHOT contract
    (geocode-diff-merge.js:63 ``Array.isArray(prevRaw?.rows) ? ... : []``):
    the object store's missing-object default ``'{}'`` reads as zero rows
    so a cold start makes everything delta. The strict default mirrors the
    CLEAN-input contract (geocode.js:97 exits on unrecognized shapes).
    """
    if isinstance(obj, list):
        return obj
    if isinstance(obj, dict):
        for key in _ROW_KEYS:
            val = obj.get(key)
            if isinstance(val, list):
                return val
        if default_empty:
            return []
    raise ValueError("unrecognized clinic JSON shape (not array / rows / data / clinics)")


def read_clinic_json(
    spark: SparkSession, path: str, schema=None, default_empty: bool = False
) -> DataFrame:
    """Read a wrapper-or-array clinic JSON file into a DataFrame.

    These files are single-document JSON (the reference writes
    ``JSON.stringify(wrapper, null, 2)``), small by construction (one file
    per county / per run), so the file is parsed on the driver and its rows
    go to Spark as ONE JSON array document inside the query:
    ``inline(from_json(doc, schema_of_json(doc)))``. The analyzer infers the
    schema and the optimizer folds the parse into a literal, so the read
    fires no Spark job and later scans run in the JVM, with no Python
    workers. ``schema_of_json`` uses the JSON data source's inference
    (fields sorted by name, numbers widened, numeric/string mixes and
    all-null keys read as strings), so the frame equals ``spark.read.json``
    over the same rows. Landing-zone data at scale should instead be
    written as JSONL/parquet and read with spark.read with a declared
    schema.

    An ``ingest_order`` column is attached — the reference's dedup/merge
    semantics are insertion-order-sensitive (SURVEY §2.4 A1/A2) and Spark
    DataFrames are unordered, so arrival order must be an explicit column.
    """
    with open(path, encoding="utf-8") as f:
        obj = json.load(f)
    rows = extract_rows(obj, default_empty=default_empty)
    indexed = [{**r, "ingest_order": i} for i, r in enumerate(rows)]
    if schema is not None:
        return spark.createDataFrame(indexed, schema=schema)
    if not indexed:
        # Schema inference has nothing to work with; fall back to the
        # declared raw-grid contract so downstream projections resolve.
        from counsel_data_pipeline_spark.schemas import RAW_GRID_ROW

        return spark.createDataFrame([], schema=RAW_GRID_ROW)
    doc = json.dumps(indexed, ensure_ascii=False)
    return spark.sql(
        "SELECT inline(from_json(:doc, schema_of_json(:doc)))", args={"doc": doc}
    )


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str | Any
) -> tuple[DataFrame, DataFrame]:
    """Landing-zone JSONL read with a corrupt-record quarantine — the
    engine-side analog of the reference's failure-evidence sink (SURVEY
    §2.2 K6: bad inputs are preserved as evidence, never dropped silently
    and never allowed to poison the batch).

    Returns (good, quarantined): ``good`` rows parsed against the declared
    schema; ``quarantined`` rows carry the raw malformed line in
    ``corrupt_record``. PERMISSIVE mode keeps the pipeline running on
    partial corruption; the quarantine frame is the operational artifact.
    """
    raw = (
        spark.read.schema(f"{schema}, corrupt_record string"
                          if isinstance(schema, str) else schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_record")
        .json(path)
    )
    raw = raw.cache()  # one parse serves both splits
    good = raw.filter(F.col("corrupt_record").isNull()).drop("corrupt_record")
    bad = raw.filter(F.col("corrupt_record").isNotNull()).select("corrupt_record")
    return good, bad
