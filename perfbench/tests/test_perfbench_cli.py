"""The command line: metric names and units agree with BENCHMARK.json, and
a checkout without the engine is refused."""

import json
import os
import shutil
import subprocess
import sys

import run

ROOT = run.ROOT
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _declared(kind):
    return [(m["name"], m["unit"]) for m in SPEC[kind]]


def test_metric_lists_match_benchmark_json():
    assert _declared("end_to_end") == run.END_TO_END
    assert _declared("per_layer") == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def test_every_per_layer_metric_has_a_source():
    from_spans = set(run.layer_metrics([]))
    elsewhere = {
        "session.start_s", "first_pass_s", "enrich.delta_rows", "enrich.cache_hit_ratio",
        "validate.quarantined_rows", "publish.bytes", "write.reset_s", "write.cold_s",
        "write.warm_read_s", "write.files", "write.bytes", "host.steal_pct",
        "host.idle_pct", "host.load_1m", "peak_rss_mb", "retained_mb", "trace.overhead_s",
    }
    assert from_spans | elsewhere == {n for n, _ in run.PER_LAYER}
    assert not from_spans & elsewhere


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


def test_cli_prints_every_end_to_end_metric():
    proc = _run(ROOT, "--workload", "olap", "--seed", "3", "--seconds", "1", "--trace", "0")
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert [(k, v["unit"]) for k, v in out["metrics"].items()] == run.END_TO_END
    assert out["attempted"] >= 1 and out["failed"] == 0 and out["correct"] is True
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_cli_refuses_a_checkout_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", "olap", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
