"""The benchmark's workloads: catalog query passes and the clinic daily batch.

A workload is a list of operations run as one *pass*. Each operation is
timed on its own; output checks run after the timer stops, and an
operation fails if it raises or if its check fails. Spans go through the
run's :class:`~spans.Tracer`, which records nothing when tracing is off.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import time
from dataclasses import dataclass, field

import duckdb

# Catalog queries each OLAP pass runs, from the headline (``bench=True``)
# set: two relational and two ``llm``-tagged, sized so that a warm pass takes
# about six seconds on four cores at sf0.01. graph_common_neighbors and
# dedup_minhash_lsh_pairs, the costliest of the headline set (8-9 s cold plus
# warm each), are left out so that the 22 runs per workload of a comparison
# end in time; their layers are measured on the four below.
RELATIONAL = (
    "tpch_q5_local_supplier_volume",  # six-table join: six schema inferences
    "events_sessionize_30m",           # events load normalisation + window
)
TEXT = (
    "dedup_embedding_cosine_topn",     # grouped-map Arrow Python workers
    "text_bigram_lm_score",            # tokenise + n-gram shuffle aggregate
)
WRITE_TAG = "bench-write"
CLINIC_TS = "20241012T060000Z"


@dataclass
class OpResult:
    name: str
    seconds: float
    error: str | None = None


@dataclass
class PassResult:
    seconds: float
    ops: list[OpResult]
    cpu_s: float = 0.0
    traced: bool = False
    mark: int = 0  # tracer span index where the pass began


@dataclass
class Outcome:
    """What the run did, for the failure count and the detail file."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, op: OpResult) -> None:
        self.attempted += 1
        if op.error is not None:
            self.failures.append(f"{op.name}: {op.error}"[:300])


def load_checker(root: str):
    """``tools/check_correctness.py`` as a module: its ``canon`` and
    ``table_hash`` define what equal output means."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _signature(checker, cols: list[str], rows: list[tuple]) -> tuple:
    return (len(rows), tuple(sorted(cols)), checker.table_hash(cols, rows))


def oracle_signatures(checker, queries: dict, sf_dir: str) -> dict[str, tuple]:
    """Row count, column names and value hash of each query's DuckDB
    oracle over the same parquet files."""
    from counsel_data_pipeline_spark.io.sources import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name, q in queries.items():
            cur = con.execute(q.oracle)
            cols = [d[0] for d in cur.description]
            out[name] = _signature(checker, cols, cur.fetchall())
        return out
    finally:
        con.close()


def import_program() -> dict:
    """Import the engine; its catalog registers every plan module. Returns
    the catalog."""
    import counsel_data_pipeline_spark.pipeline  # noqa: F401
    from counsel_data_pipeline_spark.catalog import all_queries

    return all_queries()


def olap_queries(catalog: dict, write_path: bool) -> dict:
    """The catalog queries an ``olap`` run executes: the pass set, plus the
    ``bench-write`` queries when the write path is measured."""
    out = {n: catalog[n] for n in RELATIONAL + TEXT}
    if write_path:
        out.update((n, q) for n, q in sorted(catalog.items()) if WRITE_TAG in q.tags)
    return out


class OlapWorkload:
    """Catalog queries, run in a seeded order each pass, each followed by
    ``spark.catalog.clearCache()`` as ``bench.py`` does. ``expected`` holds
    the oracle signature of every query in ``queries``."""

    def __init__(self, spark, queries: dict, sf_dir: str, checker, expected: dict,
                 tracer, seed: int) -> None:
        self.spark = spark
        self.queries = {n: q for n, q in queries.items() if WRITE_TAG not in q.tags}
        self.writes = {n: q for n, q in queries.items() if WRITE_TAG in q.tags}
        self.sf_dir = sf_dir
        self.checker = checker
        self.expected = expected
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.stats: dict[str, float] = {}

    def _query(self, q) -> tuple[float, list[str], list[tuple]]:
        """Time build, plan and ``collect()``; the rows are collected rather
        than sent to the noop sink so that they can be checked, and turned
        into tuples for the check after the timer stops."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("query"):
            with tr.span("plans.build"):
                df = q.fn(self.spark, self.sf_dir)
            if tr.enabled:
                with tr.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec"):
                got = df.collect()
            self.spark.catalog.clearCache()
        secs = time.perf_counter() - t0
        return secs, df.columns, [tuple(r) for r in got]

    def _check(self, name: str, cols, rows) -> str | None:
        got = _signature(self.checker, cols, rows)
        want = self.expected[name]
        if got == want:
            return None
        if got[:2] != want[:2]:
            return f"output differs from oracle: rows/cols {got[:2]} vs {want[:2]}"
        return "output differs from oracle: value hash"

    def run_pass(self) -> list[OpResult]:
        ops = []
        for name in self.rng.sample(list(self.queries), len(self.queries)):
            try:
                secs, cols, rows = self._query(self.queries[name])
                ops.append(OpResult(name, secs, self._check(name, cols, rows)))
            except Exception as exc:  # noqa: BLE001 - a failed query is a measured outcome
                ops.append(OpResult(name, 0.0, f"{type(exc).__name__}: {exc}"))
        return ops

    def run_write_path(self, tmp_root: str) -> list[OpResult]:
        """Each write query: reset, cold write, warm read (as ``bench.py``'s
        write section). Counts the files the cold writes leave under
        ``tmp_root``, where the program puts derived layouts."""
        tr, ops = self.tracer, []
        secs = {"write.reset_s": 0.0, "write.cold_s": 0.0, "write.warm_read_s": 0.0}
        files = nbytes = 0
        for name, q in self.writes.items():
            try:
                t0 = time.perf_counter()
                with tr.span("write.reset"):
                    q.reset(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                before = _tree(tmp_root)
                t2 = time.perf_counter()
                with tr.span("write.cold"):
                    q.fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                    self.spark.catalog.clearCache()
                t3 = time.perf_counter()
                new = {p: s for p, s in _tree(tmp_root).items() if before.get(p) != s}
                files += len(new)
                nbytes += sum(new.values())
                t4 = time.perf_counter()
                with tr.span("write.warm_read"):
                    df = q.fn(self.spark, self.sf_dir)
                    cols, rows = df.columns, [tuple(r) for r in df.collect()]
                    self.spark.catalog.clearCache()
                t5 = time.perf_counter()
                secs["write.reset_s"] += t1 - t0
                secs["write.cold_s"] += t3 - t2
                secs["write.warm_read_s"] += t5 - t4
                ops.append(OpResult(name, t5 - t4, self._check(name, cols, rows)))
            except Exception as exc:  # noqa: BLE001
                ops.append(OpResult(name, 0.0, f"{type(exc).__name__}: {exc}"))
        self.stats.update(secs, **{"write.files": float(files), "write.bytes": float(nbytes)})
        return ops


def _tree(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # removed while walking
                pass
    return out


class ClinicWorkload:
    """One daily batch of the paper's DAG per pass: crawl/clean/merge,
    materialise the merged file, diff + enrich against the previous
    snapshot, validation gates, change-gated publish.

    Only the merged frame is planned in a ``catalyst.plan`` span of its own.
    ``publish_to_store`` and the gate counts build their frames inside the
    program, so their planning is timed in the ``exec`` spans."""

    def __init__(self, spark, zone: str, store_root: str, tracer) -> None:
        with open(os.path.join(zone, "manifest.json"), encoding="utf-8") as fh:
            self.manifest = json.load(fh)
        with open(os.path.join(zone, "geocode-cache.json"), encoding="utf-8") as fh:
            self.cache_rows = [{"query": k, **v} for k, v in json.load(fh).items()]
        self.spark = spark
        self.zone = zone
        self.store_root = store_root
        self.tracer = tracer
        self.published: str | None = None  # sha256 of the first pass's bytes
        self.stats: dict[str, float] = {}

    def _batch(self) -> tuple[object, bytes, int, int]:
        from counsel_data_pipeline_spark import pipeline as P
        from counsel_data_pipeline_spark.io.object_store import LocalFSStore
        from counsel_data_pipeline_spark.io.sinks import collect_rows, wrapper_json
        from counsel_data_pipeline_spark.io.sources import read_clinic_json
        from counsel_data_pipeline_spark.ops.clean import CLEAN_COLUMNS
        from counsel_data_pipeline_spark.ops.enrich import CACHE_SCHEMA, StubResolver

        tr, spark, zone = self.tracer, self.spark, self.zone
        landing = os.path.join(zone, "landing")
        files = [
            (c, os.path.join(landing, f"{c}_yes_raw.json"), os.path.join(landing, f"{c}_no_raw.json"))
            for c in self.manifest["counties"]
        ]
        merged_path = os.path.join(zone, "taiwan_merged_clean.json")
        with tr.span("pipeline.merge_build"):
            res = P.crawl_clean_merge(spark, files)
            taiwan = res.taiwan.select(*CLEAN_COLUMNS, "taiwan_order")
            ordered = taiwan.orderBy("taiwan_order")
        if tr.enabled:
            with tr.span("catalyst.plan"):
                ordered._jdf.queryExecution().executedPlan()
        with tr.span("pipeline.merge_exec"):
            with tr.span("exec"):
                # the frame just planned, as collect_rows(taiwan, "taiwan_order")
                # would build it
                rows = collect_rows(ordered, drop=("taiwan_order",))
            with open(merged_path, "w", encoding="utf-8") as fh:
                fh.write(wrapper_json(rows))
        with tr.span("pipeline.diff"):
            clean = read_clinic_json(spark, merged_path)
            prev = read_clinic_json(
                spark, os.path.join(zone, "prev", "clinics.json")
            ).withColumnRenamed("ingest_order", "prev_order")
            cache = spark.createDataFrame(self.cache_rows, CACHE_SCHEMA)
            result = P.diff_enrich_publish(clean, prev, cache, StubResolver())
        with tr.span("validate"):
            with tr.span("exec"):
                v1 = result.schema_gate.quarantined.count()
                v3 = result.geocode_gate.quarantined.count()
        store = LocalFSStore(self.store_root)
        with tr.span("pipeline.publish"):
            with tr.span("exec"):
                P.publish_to_store(
                    result, store, current_key="clinics.json",
                    snapshot_prefix="snapshots", ts=CLINIC_TS,
                )
        data = store.get("clinics.json") if result.publish else b""
        return result, data, v1, v3

    def _check(self, result, data: bytes, v1: int, v3: int) -> str | None:
        from counsel_data_pipeline_spark.ops.validate import check_total

        m = self.manifest
        if result.change_count != m["delta_rows"]:
            return f"change_count {result.change_count} != planted {m['delta_rows']}"
        if not data:
            return "nothing published"
        doc = json.loads(data)
        if not check_total(doc).ok:
            return "published wrapper fails check_total"
        if doc["total"] != m["clean_rows"]:
            return f"final rows {doc['total']} != clean rows {m['clean_rows']}"
        if (v1, v3) != (m["v1_quarantined"], m["v3_quarantined"]):
            return f"quarantined {(v1, v3)} != planted {(m['v1_quarantined'], m['v3_quarantined'])}"
        digest = hashlib.sha256(data).hexdigest()
        if self.published is None:
            self.published = digest
        elif digest != self.published:
            return "published bytes differ from the first pass"
        hits = sum(
            1 for r in doc["rows"]
            if r["phone"] in m["cache_lat"] and r["lat"] == m["cache_lat"][r["phone"]]
        )
        self.stats = {
            "enrich.delta_rows": float(result.change_count),
            "enrich.cache_hit_ratio": hits / result.change_count,
            "validate.quarantined_rows": float(v1 + v3),
            "publish.bytes": float(len(data)),
        }
        return None

    def run_pass(self) -> list[OpResult]:
        t0 = time.perf_counter()
        try:
            result, data, v1, v3 = self._batch()
            secs = time.perf_counter() - t0
            # the batch leaves its cached frames to the caller; left cached,
            # they would serve the next batch's identical plans (a cron
            # run's process ends here)
            self.spark.catalog.clearCache()
            return [OpResult("clinic_daily_batch", secs, self._check(result, data, v1, v3))]
        except Exception as exc:  # noqa: BLE001
            return [OpResult("clinic_daily_batch", 0.0, f"{type(exc).__name__}: {exc}")]

