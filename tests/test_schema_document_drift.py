"""Drift test against the reference's literal JSON-Schema document.

The reference validates its published wrapper with ajv against
``schema.clinic.json`` (reference package.json:4); the engine restates
those rules as column predicates (``ops/validate.clinic_violations``)
and StructTypes (``schemas.CLINIC`` / ``schemas.GEO_COLUMNS``). That is
semantically equivalent today, but nothing previously parsed the schema
*file* itself, so a rule edit in a hypothetical upstream schema would
not propagate (r11 verdict, "what's missing" #4). These tests read the
draft-07 document at test time — never at runtime — and fail if the
column predicates and the document ever disagree.

Columnar mapping used throughout: a JSON object key that is absent is
indistinguishable from null in a DataFrame, so draft-07 ``required`` ≅
"column must be non-null" and ``minimum: 0`` on an integer ≅ "column
must not be negative".
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops.validate import clinic_violations
from counsel_data_pipeline_spark.schemas import CLINIC, GEO_COLUMNS

from conftest import REFERENCE_DIR

SCHEMA_PATH = os.path.join(REFERENCE_DIR, "schema.clinic.json")

# Drift tests compare against the reference's literal schema document;
# the engine itself is standalone, so absence of the reference checkout
# skips (not fails) this module.
pytestmark = pytest.mark.skipif(
    not os.path.exists(SCHEMA_PATH),
    reason="reference schema document not present in this checkout",
)


def _load():
    with open(SCHEMA_PATH) as fh:
        return json.load(fh)


def _types(prop: dict) -> set[str]:
    t = prop.get("type", [])
    return set([t] if isinstance(t, str) else t)


def _clinic_frame(spark):
    """An empty frame carrying every clean+geo clinic column, so
    clinic_violations sees the full published row shape."""
    fields = list(CLINIC.fields) + list(GEO_COLUMNS.fields)
    from pyspark.sql.types import StructType

    return spark.createDataFrame([], StructType(fields))


def test_required_checks_match_schema_document(spark):
    doc = _load()
    clinic = doc["definitions"]["Clinic"]
    checks = clinic_violations(_clinic_frame(spark))
    checked = {n[len("required_"):] for n in checks if n.startswith("required_")}
    assert checked == set(clinic["required"]), (
        "clinic_violations required_* predicates drifted from the "
        "schema document's required list"
    )


def test_minimum_checks_match_schema_document(spark):
    doc = _load()
    clinic = doc["definitions"]["Clinic"]
    declared = {
        name
        for name, prop in clinic["properties"].items()
        if "integer" in _types(prop) and prop.get("minimum") == 0
    }
    checks = clinic_violations(_clinic_frame(spark))
    checked = {n[len("negative_"):] for n in checks if n.startswith("negative_")}
    assert checked == declared, (
        "clinic_violations negative_* predicates drifted from the "
        "schema document's integer minimum:0 constraints"
    )


def test_struct_types_match_schema_document(spark):
    """Every Clinic property maps to a declared StructField whose Spark
    type is compatible with the JSON type, and vice versa (no column the
    schema doesn't allow — it declares additionalProperties: false)."""
    doc = _load()
    clinic = doc["definitions"]["Clinic"]
    fields = {f.name: f for f in list(CLINIC.fields) + list(GEO_COLUMNS.fields)}

    compatible = {
        "string": {"string"},
        "integer": {"int", "bigint"},
        # draft-07 "number" admits integers too
        "number": {"double", "float", "int", "bigint"},
        "boolean": {"boolean"},
        "object": {"map<string,string>"},
    }
    assert set(fields) == set(clinic["properties"]), (
        "published column set drifted from the schema document "
        "(it declares additionalProperties: false)"
    )
    for name, prop in clinic["properties"].items():
        json_types = _types(prop) - {"null"}
        spark_type = fields[name].dataType.simpleString()
        allowed = set().union(*(compatible[t] for t in json_types))
        assert spark_type in allowed, (
            f"{name}: StructType {spark_type} incompatible with JSON "
            f"schema type(s) {sorted(json_types)}"
        )


def test_envelope_matches_schema_document(spark):
    """Top-level wrapper: required keys and the total>=0 integer rule.
    wrapper_obj must emit every required key; check_total enforces the
    declared total against the rows array length (V2)."""
    from counsel_data_pipeline_spark.io.sinks import wrapper_obj
    from counsel_data_pipeline_spark.ops.validate import check_total

    doc = _load()
    required = set(doc["required"])
    wrapper = wrapper_obj([{"county": "臺北市"}], county="臺北市")
    assert required <= set(wrapper), "wrapper_obj missing a required envelope key"
    assert set(wrapper) <= set(doc["properties"]), (
        "wrapper_obj emits a key the envelope schema forbids "
        "(additionalProperties: false)"
    )
    total_prop = doc["properties"]["total"]
    assert _types(total_prop) == {"integer"} and total_prop["minimum"] == 0
    assert isinstance(wrapper["total"], int) and wrapper["total"] >= 0
    # the invariant checker rejects a drifted total
    bad = dict(wrapper, total=wrapper["total"] + 1)
    assert not check_total(bad).ok


def test_required_rows_actually_quarantined(spark):
    """End-to-end: a row nulling each schema-required field lands in
    quarantine with the matching violation name — the predicates are
    enforced, not just named."""
    from counsel_data_pipeline_spark.ops.validate import split_valid

    doc = _load()
    clinic = doc["definitions"]["Clinic"]
    base = {
        "county": "臺北市",
        "org_name": "A",
        "org_url": None,
        "phone": None,
        "address": "X路1號",
        "map_url": None,
        "pay_detail": None,
        "this_week": 1,
        "next_week": 0,
        "next_2_week": 0,
        "next_3_week": 0,
        "in_4_weeks": 1,
        "edit_date": None,
        "teleconsultation": False,
        "has_quota": True,
    }
    rows = [dict(base)]
    for name in clinic["required"]:
        rows.append({**base, name: None})
    from pyspark.sql.types import StructType

    nullable = StructType(
        [type(f)(f.name, f.dataType, True) for f in CLINIC.fields]
    )
    df = spark.createDataFrame(rows, nullable)
    split = split_valid(df)
    got = {
        v
        for r in split.quarantined.select(F.explode("violations")).collect()
        for v in [r[0]]
        if v.startswith("required_")
    }
    assert got == {f"required_{n}" for n in clinic["required"]}
