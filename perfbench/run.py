"""Benchmark of the transcript pipeline: one workload per invocation.

    python3 perfbench/run.py --workload flagship_batch --seed 0 --seconds 3 --trace 0

Workloads: flagship_batch, incremental_ingest, analyst_queries, or
``all`` (each in turn, in its own process, with a
summary table at the end). ``--size smoke`` is a seconds-long size of
every workload for the benchmark's own tests.

Standard output: one JSON report line (host block, every end-to-end
metric of the workload with unit, quartiles and sample count, the
per-layer table when ``--trace 1``, the checks), then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}`` with the
metrics named in BENCHMARK.json. Run from the root of a checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["flagship_batch", "incremental_ingest", "analyst_queries"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=3.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def _final_line(b, spec: dict, trace: int) -> dict:
    if trace:
        totals = b.layers.get("_totals", {})
        values = {
            "session.start_s": b.session_start_s,
            "spark.jobs": b.layers["spark.jobs"],
            "spark.sql_executions": b.layers["spark.sql_executions"],
            "spark.tasks": b.layers["spark.tasks"],
            "spark.shuffle_bytes": totals["shuffle_bytes"],
            "spark.shuffle_records": totals["shuffle_records"],
            "spark.spill_bytes": totals["spill_bytes"],
            "spark.python_bytes": totals["python_bytes"],
            "spark.broadcast_collect_s": totals["broadcast_collect_s"],
            "spark.peak_rss_mb": b.rss.peak_mb,
            "tracing.overhead_s": b.layers["tracing.overhead_s"],
            "parse.match_ratio": b.layers["parse.match_ratio"],
        }
        wanted = spec["per_layer"]
    else:
        values = {k: v for k, (v, _u) in b.e2e.items()}
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    return {
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }


def run_one(args, workdir: str) -> int:
    if not os.path.isdir(os.path.join(ROOT, "log_parser_project_spark")):
        print(f"no program to benchmark: {ROOT}/log_parser_project_spark is missing",
              file=sys.stderr)
        return 2
    spec = _spec()
    os.makedirs(workdir)
    # every file Spark, the JVM and Python workers write stays in the run's work dir
    os.environ.update(TZ="UTC", TMPDIR=workdir, SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"))
    time.tzset()
    sys.path.insert(0, ROOT)

    import harness
    import workloads

    load1, steal = os.getloadavg()[0], harness.cpu_steal_s()
    b = workloads.Bench(args, workdir, T_PROCESS)
    try:
        if args.workload == "flagship_batch":
            workloads.flagship(b)
        elif args.workload == "incremental_ingest":
            workloads.incremental(b)
        else:
            workloads.analyst(b)
    finally:
        b.close()

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "size": args.size, "trace": args.trace,
        "host": harness.host_block(load1, steal),
        "end_to_end": {**b.report, "error_rate": {
            "value": b.failed / b.attempted if b.attempted else 1.0, "unit": "ratio",
            "n": b.attempted, "failed": b.failed}},
        "info": b.info,
    }
    if args.trace:
        report["layers"] = {"session.start_s": b.session_start_s,
                            **{k: v for k, v in b.layers.items() if not k.startswith("_")}}
    if b.tracer is not None:
        report["spans"] = b.tracer.dump()
    if b.problems:
        report["problems"] = b.problems[:20]
    print(json.dumps(report, default=str))
    print(json.dumps(_final_line(b, spec, args.trace)))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints each report and a
    summary of the end-to-end metrics by name."""
    rows = []
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or len(lines) < 2:
            sys.stderr.write(proc.stderr[-4000:])
            print(json.dumps({"workload": w, "exit": proc.returncode}))
            return 1
        print(lines[-2])
        rows.append((w, json.loads(lines[-2]), json.loads(lines[-1])))
    print(f"{'workload':20} {'metric':16} {'value':>14} {'unit':8} {'n':>4}  spread")
    for w, rep, last in rows:
        for name, m in rep["end_to_end"].items():
            v = m["value"]
            vs = f"{v:.6g}" if v is not None else "n/a"
            extra = f"q1={m['q1']:.4g} q3={m['q3']:.4g}" if "q1" in m else ""
            if m.get("percentile"):
                extra = f"p{m['percentile']}"
            print(f"{w:20} {name:16} {vs:>14} {m['unit']:8} {m['n']:>4}  {extra}")
        if not last["correct"]:
            return 1
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    if args.workload == "all":
        return run_all(args)
    # a SIGTERM unwinds like an error, so the session and every process
    # the run started are stopped on that path too; a second one does
    # not cut that clean-up short
    def terminate(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, terminate)
    workdir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    try:
        return run_one(args, workdir)
    finally:
        import harness

        harness.end_children()
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
