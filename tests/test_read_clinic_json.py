"""``read_clinic_json``: the driver-side document is parsed inside the
query plan, so the read fires no Spark job, and the frame is the one
``spark.read.json`` infers over the same rows (schema, types, values)."""

import json

import pytest
from conftest import jobs_fired

from counsel_data_pipeline_spark.io.sources import read_clinic_json
from counsel_data_pipeline_spark.schemas import RAW_GRID_ROW

ROWS = [
    # count fields as a number, a numeric string, null and '' in one column;
    # lat as an int and as a float; a nested components object
    {"orgName": "甲診所", "thisWeekCount": 3, "lat": 25, "components": {"county": "臺北市"},
     "approx": None},
    {"orgName": "乙診所", "thisWeekCount": "4", "lat": 25.5, "approx": None,
     "note": "only here"},  # a key present in one row only
    {"orgName": "丙診所", "thisWeekCount": None, "lat": None,
     "components": {"county": "臺中市", "road": "中山路"}, "approx": None},
    {"orgName": "丁診所", "thisWeekCount": "", "approx": None},  # approx: all null
]
SHAPES = {
    "wrapper": lambda rows: {"county": "全台灣", "total": len(rows), "rows": rows},
    "data": lambda rows: {"county": "全台灣", "data": rows},
    "array": lambda rows: rows,
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_reader_equals_read_json_and_fires_no_job(spark, tmp_path, shape):
    path = tmp_path / f"{shape}.json"
    path.write_text(json.dumps(SHAPES[shape](ROWS), ensure_ascii=False), encoding="utf-8")

    def read():
        df = read_clinic_json(spark, str(path))
        df.schema  # noqa: B018 - analysis, where the schema is inferred
        return df

    df, jobs = jobs_fired(spark, f"read-clinic-json-{shape}", read)
    assert jobs == 0

    lines = [json.dumps({**r, "ingest_order": i}, ensure_ascii=False) for i, r in enumerate(ROWS)]
    want = spark.read.json(spark.sparkContext.parallelize(lines))
    assert df.schema == want.schema
    assert df.orderBy("ingest_order").collect() == want.orderBy("ingest_order").collect()
    # the mixed count column reads as strings, as the JSON source reads it
    assert [r.thisWeekCount for r in df.orderBy("ingest_order").collect()] == ["3", "4", None, ""]


def test_reader_empty_rows_fall_back_to_raw_grid_schema(spark, tmp_path):
    path = tmp_path / "empty.json"
    path.write_text(json.dumps({"county": "全台灣", "total": 0, "rows": []}), encoding="utf-8")
    df = read_clinic_json(spark, str(path))
    assert df.schema == RAW_GRID_ROW
    assert df.count() == 0
