"""The daily batch on a generated landing zone: a golden that needs no
reference checkout, and the batch's Spark job budget.

The zone comes from the benchmark's seeded generator
(``perfbench/gen_clinic.py``, loaded read-only): two counties, so the
``taiwan_order`` union of per-county merges is exercised, with the
planted delta, cache hits and gate failures its manifest records. The
batch is the one the ``clinic_daily`` benchmark workload runs: crawl /
clean / merge, write the merged file, diff + enrich against the previous
snapshot, both validation gates, change-gated publish.

The two sha256 digests pin the merged file and the published bytes byte
for byte: a change to how the batch reads, pins or orders its frames must
leave both as they are.
"""

import hashlib
import importlib.util
import json
import os
import sys

import pytest
from conftest import ROOT, jobs_fired

from counsel_data_pipeline_spark import pipeline as P
from counsel_data_pipeline_spark.io.object_store import LocalFSStore
from counsel_data_pipeline_spark.io.sinks import collect_rows, wrapper_json
from counsel_data_pipeline_spark.io.sources import read_clinic_json
from counsel_data_pipeline_spark.ops.clean import CLEAN_COLUMNS
from counsel_data_pipeline_spark.ops.enrich import CACHE_SCHEMA, StubResolver
from counsel_data_pipeline_spark.ops.validate import check_total

SEED, COUNTIES, CLINICS = 3, 2, 20
MERGED_SHA256 = "64fd60b249221fb9d0b926c186cd6c854df1f3eb0fecef34a847d20449190ff9"
PUBLISHED_SHA256 = "23280950d093093164b87105cb6951d07137f12861cf2396e0f2fcd481646f32"
# Spark jobs per step of the batch; the first gate fills the ``final`` pin
JOBS = {
    "crawl_clean_merge": 0, "diff_enrich_publish": 7,
    "schema_gate": 15, "geocode_gate": 2, "publish_to_store": 3,
}


def _gen_clinic():
    spec = importlib.util.spec_from_file_location(
        "gen_clinic", os.path.join(ROOT, "perfbench", "gen_clinic.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve through it
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def batch(spark, tmp_path_factory):
    zone = str(tmp_path_factory.mktemp("clinic_zone"))
    manifest = _gen_clinic().generate(zone, SEED, COUNTIES, CLINICS)
    with open(os.path.join(zone, "geocode-cache.json"), encoding="utf-8") as fh:
        cache_rows = [{"query": k, **v} for k, v in json.load(fh).items()]
    landing = os.path.join(zone, "landing")
    files = [
        (c, os.path.join(landing, f"{c}_yes_raw.json"), os.path.join(landing, f"{c}_no_raw.json"))
        for c in manifest.counties
    ]
    jobs: dict[str, int] = {}

    def step(name, fn):
        out, jobs[name] = jobs_fired(spark, f"pipeline-generated/{name}", fn)
        return out

    res = step("crawl_clean_merge", lambda: P.crawl_clean_merge(spark, files))
    taiwan = res.taiwan.select(*CLEAN_COLUMNS, "taiwan_order")
    merged = wrapper_json(collect_rows(taiwan, order_col="taiwan_order"))
    merged_path = os.path.join(zone, "taiwan_merged_clean.json")
    with open(merged_path, "w", encoding="utf-8") as fh:
        fh.write(merged)

    def diff():
        clean = read_clinic_json(spark, merged_path)
        prev = read_clinic_json(
            spark, os.path.join(zone, "prev", "clinics.json")
        ).withColumnRenamed("ingest_order", "prev_order")
        cache = spark.createDataFrame(cache_rows, CACHE_SCHEMA)
        return P.diff_enrich_publish(clean, prev, cache, StubResolver())

    result = step("diff_enrich_publish", diff)
    v1 = step("schema_gate", result.schema_gate.quarantined.count)
    v3 = step("geocode_gate", result.geocode_gate.quarantined.count)
    store = LocalFSStore(str(tmp_path_factory.mktemp("clinic_store")))
    step("publish_to_store", lambda: P.publish_to_store(
        result, store, current_key="clinics.json",
        snapshot_prefix="snapshots", ts="20241012T060000Z",
    ))
    published = store.get("clinics.json") if result.publish else b""
    yield {
        "manifest": manifest, "result": result, "v1": v1, "v3": v3,
        "merged": merged.encode("utf-8"), "published": published, "jobs": jobs,
    }
    result.release()  # a no-op when the test below released them


def test_generated_batch_meets_planted_answers(batch):
    m, result = batch["manifest"], batch["result"]
    assert result.change_count == m.delta_rows and result.publish
    doc = json.loads(batch["published"])
    assert check_total(doc).ok
    assert doc["total"] == m.clean_rows
    assert json.loads(batch["merged"])["total"] == m.clean_rows
    assert (batch["v1"], batch["v3"]) == (m.v1_quarantined, m.v3_quarantined)
    # the merged order runs county by county (taiwan_order's county rank)
    counties = [r["county"] for r in json.loads(batch["merged"])["rows"]]
    firsts = [c.split("_", 1)[1] for c in m.counties]
    assert counties == sorted(counties, key=firsts.index)
    assert len(set(counties)) == COUNTIES


def test_generated_batch_bytes_are_golden(batch):
    assert hashlib.sha256(batch["merged"]).hexdigest() == MERGED_SHA256
    assert hashlib.sha256(batch["published"]).hexdigest() == PUBLISHED_SHA256


def test_generated_batch_job_budget(batch):
    """Each frame of the batch is computed once: the landing reads fire no
    job, the split join is pinned before the change count and ``final``
    before the gates, so the second gate and the publish read cached
    frames instead of re-running recombine and enrich."""
    jobs = batch["jobs"]
    assert jobs["geocode_gate"] <= 3 and jobs["publish_to_store"] <= 3, jobs
    assert jobs == JOBS


def test_release_drops_the_batch_pins(batch):
    result = batch["result"]
    assert len(result.pinned) == 2
    assert all(df.storageLevel.useMemory for df in result.pinned)
    result.release()
    assert not any(df.storageLevel.useMemory for df in result.pinned)
