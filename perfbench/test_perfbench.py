"""Tests of the benchmark itself, at its smoke size (a few tens of
seconds per run). From the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs twice with tracing on and the same seed: both runs
must pass every check, emit every metric the workload defines, and
give identical counts.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PIPELINE_LAYERS = {
    "session.start_s", "spark.jobs", "spark.sql_executions", "spark.tasks",
    "parse.classify_s", "parse.extract_s", "enrich.self_s", "route.self_s", "shuffle.self_s",
    "enrich.broadcast_collect_s", "enrich.broadcast_build_s",
    "shuffle.bytes", "shuffle.records", "shuffle.fetch_wait_s", "spark.spill_bytes",
    "catalog.write_s", "catalog.commit_s", "catalog.files_written", "catalog.bytes_written",
    "catalog.read_plan_s", "catalog.files_read_ratio",
    "parse.match_ratio", "tracing.overhead_s",
}
E2E = {"setup_s", "cold_s", "warm_s", "peak_rss_mb", "error_rate"}
EXPECTED = {
    "flagship_batch": (
        E2E | {"turns_per_s", "cold_run_s"},
        PIPELINE_LAYERS | {"aggregate.self_s", "aggregate.shuffle_bytes", "agg_writes.self_s",
                           "parse.fallback_extract_s", "parse.python_worker_s",
                           "parse.python_bytes"},
    ),
    "incremental_ingest": (
        E2E | {"batch_p50_s", "batch_tail_s", "read_p50_s", "read_tail_s"},
        PIPELINE_LAYERS,
    ),
    "analyst_queries": (
        E2E | {"suite_s", "query_p50_s", "query_tail_s"},
        {"session.start_s", "spark.jobs", "spark.sql_executions", "spark.tasks",
         "spark.spill_bytes", "parse.match_ratio", "tracing.overhead_s",
         "dedup.candidates_per_result", "similarity.candidates_per_result"}
        | {f"query.{q}_s" for q in (
            "q_a9_pricing_summary", "q_j1_broadcast_enrich", "q_f1_regex_extract",
            "q_w4_lead_gap", "q_x28_explode_tokens", "q_dd_jaccard3_pairs",
            "q_dd_minhash_pairs", "q_sim_topk", "q_sim_gemm_topk", "q_tx_quality",
            "q_corpus_stats", "q_pl_routed_events")},
    ),
}
COUNTS = ("spark.jobs", "spark.sql_executions", "spark.tasks", "catalog.files_written",
          "parse.match_ratio")


def _session_members(sid: int) -> list[int]:
    """Processes still alive (not zombies) in session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(name))
    return out


def _run(workload: str, trace: int, cwd: str = ROOT):
    """One run in a session of its own; it must leave no process of
    that session running once it has exited."""
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = proc.communicate(timeout=600)
    assert _session_members(proc.pid) == [], "the run left processes behind"
    return subprocess.CompletedProcess(proc.args, proc.returncode, stdout, stderr)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", list(EXPECTED))
def test_smoke_twice(workload):
    e2e_names, layer_names = EXPECTED[workload]
    spec = _spec()
    runs = []
    for _ in range(2):
        proc = _run(workload, trace=1)
        assert proc.returncode == 0, proc.stderr[-3000:]
        report, last = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, report
        assert set(last["metrics"]) == {m["name"] for m in spec["per_layer"]}
        missing_e2e = e2e_names - set(report["end_to_end"])
        missing_layers = layer_names - set(report["layers"])
        assert not missing_e2e and not missing_layers, (missing_e2e, missing_layers)
        for name in e2e_names:
            assert report["end_to_end"][name]["unit"] and "n" in report["end_to_end"][name]
        runs.append(report)
    for name in COUNTS:
        if name in layer_names:
            assert runs[0]["layers"][name] == runs[1]["layers"][name], name
    assert runs[0]["info"].get("input") == runs[1]["info"].get("input")


def test_untraced_line_has_every_end_to_end_metric():
    proc = _run("incremental_ingest", trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["correct"]
    assert set(last["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in last["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    proc = _run("flagship_batch", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
