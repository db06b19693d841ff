"""Output checks: a raising or wrong operation is a failure and the pass
goes on; the clinic batch's planted answers are observed."""

import json
import os

from counsel_data_pipeline_spark.catalog import Query

import gen_clinic
import workloads as wl
from spans import SparkProbe, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_failed_operations_are_counted_and_the_pass_completes(spark, tables):
    catalog = wl.import_program()
    queries = {n: catalog[n] for n in ("tpch_q6_forecast_revenue", "tpch_q1_pricing_summary")}
    checker = wl.load_checker(ROOT)
    expected = wl.oracle_signatures(checker, queries, tables)
    w = wl.OlapWorkload(spark, queries, tables, checker, expected,
                        Tracer("t", SparkProbe(spark), enabled=False), seed=1)

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    w.queries["boom"] = Query("boom", boom)
    # a query whose output no longer matches its oracle
    w.queries["tpch_q1_pricing_summary"] = Query(
        "tpch_q1_pricing_summary", lambda spark, sf_dir: spark.range(1))
    outcome = wl.Outcome()
    for op in w.run_pass():
        outcome.record(op)
    assert outcome.attempted == 3
    assert len(outcome.failures) == 2
    assert any(f.startswith("boom: RuntimeError") for f in outcome.failures)
    assert any(f.startswith("tpch_q1_pricing_summary: output differs") for f in outcome.failures)


def test_planted_delta_equals_observed_change_count(spark, tmp_path):
    zone = str(tmp_path / "zone")
    m = gen_clinic.generate(zone, 11, n_counties=2, clinics=30)
    tracer = Tracer("t", SparkProbe(spark), enabled=True)
    w = wl.ClinicWorkload(spark, zone, str(tmp_path / "store"), tracer)
    [op] = w.run_pass()
    assert op.error is None, op.error
    assert w.stats["enrich.delta_rows"] == m.delta_rows
    assert w.stats["validate.quarantined_rows"] == m.v1_quarantined + m.v3_quarantined
    assert w.stats["enrich.cache_hit_ratio"] == m.cache_hits / m.delta_rows
    names = {s.name for s in tracer.spans}
    assert {"pipeline.merge_build", "pipeline.merge_exec", "pipeline.diff",
            "validate", "pipeline.publish", "exec"} <= names
    published = json.loads((tmp_path / "store" / "clinics.json").read_text(encoding="utf-8"))
    assert published["total"] == m.clean_rows
