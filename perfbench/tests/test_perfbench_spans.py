"""Spans attribute Spark work by job group, and read load_table calls from
outside the program."""

from spans import SparkProbe, Tracer, count_load_table


def test_stage_totals_follow_the_span_job_group(spark):
    tr = Tracer("t", SparkProbe(spark), enabled=True)
    df = spark.range(0, 1000, 1, 4)
    spark.range(10).count()  # outside every span: must not be counted
    with tr.span("outer"):
        with tr.span("agg"):
            df.groupBy((df.id % 7).alias("k")).count().collect()
        with tr.span("scan"):
            df.count()
    outer, agg, scan = tr.spans
    assert agg.parent == outer.id and scan.parent == outer.id
    assert agg.spark.jobs >= 1 and agg.spark.stages >= 2
    assert agg.spark.shuffle_write_mb > 0 and agg.spark.cpu_s > 0
    assert scan.spark.jobs >= 1 and scan.spark.tasks >= 1
    for field in ("jobs", "stages", "tasks"):
        assert getattr(outer.spark, field) == getattr(agg.spark, field) + getattr(scan.spark, field)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_disabled_tracer_records_nothing(spark):
    tr = Tracer("t", SparkProbe(spark), enabled=False)
    with tr.span("x") as sp:
        spark.range(5).count()
    assert sp is None and tr.spans == []


def test_load_table_calls_are_counted_and_unwrapped(spark, tables):
    from counsel_data_pipeline_spark.catalog import all_queries
    from counsel_data_pipeline_spark.io import sources
    from counsel_data_pipeline_spark.plans import tpch

    original = sources.load_table
    tr = Tracer("t", SparkProbe(spark), enabled=True)
    unwrap = count_load_table(tr)
    try:
        with tr.span("plans.build"):
            all_queries()["tpch_q5_local_supplier_volume"].fn(spark, tables)
    finally:
        unwrap()
    loads = [s for s in tr.spans if s.name == "io.load_table"]
    assert len(loads) == 6
    assert all(s.parent == tr.spans[0].id for s in loads)
    assert tr.spans[0].spark.jobs >= sum(s.spark.jobs for s in loads) >= 1
    assert sources.load_table is original and tpch.load_table is original
