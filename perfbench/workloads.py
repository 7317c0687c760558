"""The workloads. Each runs untraced (end-to-end metrics) or traced
(per-layer metrics) inside one ``Bench``.

An operation is one ``run_pipeline`` call, one incremental drop, one
slice read or one query. Every operation is checked after the timed
part of the run; a wrong result counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import checks
import harness
import inputs
import spans as tracing

HEADLINE = [
    "q_a9_pricing_summary",
    "q_j1_broadcast_enrich",
    "q_f1_regex_extract",
    "q_w4_lead_gap",
    "q_x28_explode_tokens",
    "q_dd_jaccard3_pairs",
    "q_dd_minhash_pairs",
    "q_sim_topk",
    "q_sim_gemm_topk",
    "q_tx_quality",
    "q_corpus_stats",
    "q_pl_routed_events",
]
# nominal seconds of one warm operation on 4 cores, by workload: a run
# does ``--seconds / nominal`` warm operations (at least the minimum),
# a count fixed by its arguments, never by how fast the operations go
WARM = {
    "flagship_batch": (7.0, 3),       # pipeline runs
    "incremental_ingest": (3.0, 3),   # drops (each with its two reads)
    "analyst_queries": (14.0, 2),     # passes over the 12 queries
}


class Bench:
    """State of one benchmark run: the session, the operation ledger,
    and the metrics gathered so far."""

    def __init__(self, args, workdir: str, t_process: float):
        self.args = args
        self.workdir = workdir
        self.t_process = t_process
        self.n_cores = harness.cores()
        self.rss = harness.RssSampler().start()
        self.session: harness.Session | None = None
        self.setup_s = 0.0
        self.session_start_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict = {}   # end-to-end metrics by workload-specific name
        self.layers: dict = {}   # per-layer metrics
        self.info: dict = {}
        self.tracer: tracing.Tracer | None = None
        self._wh = 0

    @property
    def spark(self):
        return self.session.spark

    # -- lifetime -------------------------------------------------------

    def setup(self, materialise) -> object:
        """Start the session and materialise the input; ``setup_s`` runs
        from process start. Returns the materialised input."""
        self.session = harness.Session(self.workdir, self.n_cores)
        self.session_start_s = self.session.start_s
        self.rss.watch(self.session.jvm_pid)
        state = materialise()
        self.setup_s = time.perf_counter() - self.t_process
        return state

    def end_session(self) -> None:
        """Stop the JVM (before the checks' own processes start)."""
        if self.session is not None:
            self.session.close()
            self.session = None

    def close(self) -> None:
        self.end_session()
        self.rss.stop()

    def warm_ops(self) -> int:
        nominal_s, minimum = WARM[self.args.workload]
        return max(minimum, round(self.args.seconds / nominal_s))

    def warehouse(self) -> str:
        self._wh += 1
        path = os.path.join(self.workdir, f"wh{self._wh}")
        os.makedirs(path)
        return path

    # -- operations -------------------------------------------------------

    def op(self, fn, *a, **kw):
        """Run one operation; returns (value, seconds), value None when
        it raised (counted as failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            v = fn(*a, **kw)
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            traceback.print_exc(file=sys.stderr)
            return None, time.perf_counter() - t0
        return v, time.perf_counter() - t0

    def wrong(self, what: str) -> None:
        """A completed operation whose result failed its check."""
        self.failed += 1
        self.problems.append(what)
        print(f"CHECK FAILED: {what}", file=sys.stderr)

    def finish_e2e(self, cold_s: float, warm: list[float]) -> None:
        """The gated end-to-end metrics every workload reports: set-up,
        the cold operation and the median warm one (a pipeline run, a
        drop, or a pass over the 12 queries)."""
        self.e2e = {
            "setup_s": (self.setup_s, "s"),
            "cold_s": (cold_s, "s"),
            "warm_s": (statistics.median(warm), "s"),
        }
        self.report["setup_s"] = {"value": self.setup_s, "unit": "s", "n": 1}
        self.report["cold_s"] = {"value": cold_s, "unit": "s", "n": 1}
        self.report["warm_s"] = harness.timing(warm)
        self.report["peak_rss_mb"] = {"value": self.rss.peak_mb, "unit": "MB", "n": 1,
                                      **self.rss.peak_parts}


# ---------------------------------------------------------------------------
# transcript input, shared by the pipeline workloads
# ---------------------------------------------------------------------------

def _transcript_setup(b: Bench, workload: str):
    from pyspark.storagelevel import StorageLevel

    n_convs = inputs.CONVS[b.args.size][workload]

    def materialise():
        df = inputs.transcripts(b.spark, n_convs, b.args.seed, parts=2 * b.n_cores)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df

    df = b.setup(materialise)
    # the fingerprint is the benchmark's own work, after set-up
    fp = inputs.fingerprint(df)
    key = f"{workload}/{b.args.size}/{b.args.seed}"
    b.info["input"] = {"convs": n_convs, **fp, "pin": inputs.check_pin("inputs", key, fp)}
    return df, fp["rows"]


def _oracle(b: Bench, pdf) -> dict:
    t0 = time.perf_counter()
    o = checks.oracle_counts(pdf, workers=b.n_cores)
    b.info["oracle_s"] = time.perf_counter() - t0
    return o


# ---------------------------------------------------------------------------
# flagship_batch
# ---------------------------------------------------------------------------

def _pipeline_once(b: Bench, df):
    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.plans.pipeline import run_pipeline

    wh = b.warehouse()
    cat = SnapshotCatalog(b.spark, wh)
    res, secs = b.op(run_pipeline, b.spark, df, cat, write_repeats=True)
    out = None
    if res is not None:
        out = checks.pipeline_outputs(cat, res)
        out["files"] = _data_files(os.path.join(wh, "sink_staging"))
        out["match"] = (res.metrics.get("rows_matched") or 0, res.metrics.get("rows_total") or 0)
    shutil.rmtree(wh, ignore_errors=True)
    return out, secs


def _data_files(table_dir: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def flagship(b: Bench) -> None:
    from log_parser_project_spark.operators.parse import choose_extractor

    df, turns = _transcript_setup(b, "flagship_batch")
    engine = choose_extractor(b.spark)
    b.info["extractor"] = engine
    if engine != "jvm":
        raise RuntimeError(f"flagship_batch: extractor='auto' resolved to {engine!r}")

    outputs = []
    out, cold_s = _pipeline_once(b, df)
    outputs.append(out)
    if b.args.trace:
        _flagship_traced(b, df, outputs)
        warm = [b.layers.pop("_untraced_wall")]
    else:
        warm = []
        for _ in range(b.warm_ops()):
            out, secs = _pipeline_once(b, df)
            outputs.append(out)
            warm.append(secs)
    b.rss.stop()

    # -- checks (untimed) --
    pdf = df.toPandas()
    df.unpersist()
    b.end_session()
    oracle = _oracle(b, pdf)
    for i, out in enumerate(outputs):
        if out is None:
            continue
        bad = checks.pipeline_mismatches(out, oracle)
        if bad:
            b.wrong(f"run {i}: " + "; ".join(bad))

    b.finish_e2e(cold_s, warm)
    b.report["turns_per_s"] = {"value": turns / statistics.median(warm), "unit": "turns/s",
                               "n": len(warm), "turns": turns}
    b.report["cold_run_s"] = {"value": cold_s, "unit": "s", "n": 1}
    b.info["warm_runs_s"] = warm
    done = [o for o in outputs if o is not None]
    if done:
        b.info["files_written"] = sorted({o["files"][0] for o in done})
        m, t = done[-1]["match"]
        b.info["match_ratio"] = m / t if t else 0.0


def _cut_plans(b: Bench, df):
    """The flagship plan cut after each narrow layer, as public calls
    of the program compose it (``plans.pipeline.build_routed`` with the
    shipped registry on the ``jvm`` extractor, then the ``(route, day)``
    shuffle of ``run_pipeline``)."""
    from pyspark.sql import functions as F

    from log_parser_project_spark.operators.enrich import enrich
    from log_parser_project_spark.operators.parse import classify, parse_builtin
    from log_parser_project_spark.plans.pipeline import build_routed

    parsed = parse_builtin(df)
    routed = build_routed(b.spark, df)
    return [
        ("parse.classify_s", classify(df, "text")),
        ("parse.extract_s", parsed),
        ("enrich.self_s", enrich(parsed, b.spark)),
        ("route.self_s", routed),
        ("shuffle.self_s", routed.withColumn("day", F.to_date("ts")).repartition("route", "day")),
    ]


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _run_cuts(b: Bench, df) -> dict:
    """Each cut written to the ``noop`` sink in four passes; the first
    compiles each plan, and a cut's wall is the median of the other
    three. Self time of a layer is the difference between successive
    cuts."""
    cuts = _cut_plans(b, df)
    walls = {name: [] for name, _cut in cuts}
    for i in range(4):
        for name, cut in cuts:
            w = _noop(cut)
            if i:
                walls[name].append(w)
    out, prev = {}, 0.0
    for name, ws in walls.items():
        w = statistics.median(ws)
        out[name] = w - prev
        prev = w
    out["_cut_total"] = prev
    return out


def _fallback_cut(b: Bench, df) -> dict:
    """classify + extract of the same input on the Python fallback
    engine: the registry rewritten with ``\\d``/``\\w`` through
    ``extractor="auto"``. Second of two ``noop`` passes; Python worker
    time and bytes from its SQL execution."""
    from log_parser_project_spark.operators.parse import choose_extractor, parse

    patterns = inputs.fallback_registry()
    engine = choose_extractor(b.spark, patterns)
    plan = parse(df, impl=engine, patterns=patterns)
    _noop(plan)
    store = tracing.StatusStore(b.spark)
    mark = store.mark()
    wall = _noop(plan)
    tot = tracing.exec_totals(store.since(mark)[0])
    b.info["fallback_extractor"] = engine
    return {
        "parse.fallback_extract_s": wall,
        "parse.python_worker_s": tot["python_worker_s"],
        "parse.python_bytes": tot["python_bytes"],
    }


def _flagship_traced(b: Bench, df, outputs) -> None:
    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.plans import pipeline as pl
    from log_parser_project_spark.plans.pipeline import run_pipeline

    # untraced, traced, untraced: the mean of the untraced pair cancels
    # the drift of a JVM still warming up
    out, untraced = _pipeline_once(b, df)
    outputs.append(out)

    store = tracing.StatusStore(b.spark)
    tr = b.tracer = tracing.Tracer(b.spark, run_id=f"{b.args.workload}-{b.args.seed}")
    restores = _install_catalog_spans(tr)
    restores.append(_install_aggregate_span(tr, pl))
    wh = b.warehouse()
    cat = SnapshotCatalog(b.spark, wh)
    mark = store.mark()
    try:
        with tr.span("run_pipeline") as root:
            res, traced = b.op(run_pipeline, b.spark, df, cat, write_repeats=True)
    finally:
        for r in restores:
            r()
    execs, jobs = store.since(mark)
    if res is not None:
        o = checks.pipeline_outputs(cat, res)
        o["files"] = _data_files(os.path.join(wh, "sink_staging"))
        o["match"] = (res.metrics.get("rows_matched") or 0, res.metrics.get("rows_total") or 0)
        outputs.append(o)
    files, nbytes = _data_files(os.path.join(wh, "sink_staging"))
    shutil.rmtree(wh, ignore_errors=True)
    out, untraced2 = _pipeline_once(b, df)
    outputs.append(out)
    untraced = (untraced + untraced2) / 2

    by_exec, by_job = tracing.attribute(execs, jobs, default=root.sid)
    spans = {s.name: s for s in tr.spans}
    L = b.layers
    L["_untraced_wall"] = untraced
    L["tracing.overhead_s"] = traced - untraced
    L.update(_op_counts(execs, jobs, ops=1))
    write = spans.get("write:sink_staging")
    if write is not None:
        w_execs = _under(tr, write, by_exec)
        w_jobs = _under(tr, write, by_job)
        L["catalog.write_s"] = write.duration
        L["catalog.commit_s"] = write.duration - tracing.covered(
            [(j.start_ms / 1e3, j.end_ms / 1e3) for j in w_jobs], 0, float("inf"))
        wt = tracing.exec_totals(w_execs)
        L["shuffle.bytes"] = wt["shuffle_bytes"]
        L["shuffle.records"] = wt["shuffle_records"]
        L["shuffle.fetch_wait_s"] = wt["fetch_wait_s"]
        L["enrich.broadcast_collect_s"] = wt["broadcast_collect_s"]
        L["enrich.broadcast_build_s"] = wt["broadcast_build_s"]
    L["catalog.files_written"] = files
    L["catalog.bytes_written"] = nbytes
    reads = [s for s in tr.spans if s.name == "read:sink_staging"]
    L["catalog.read_plan_s"] = sum(s.duration for s in reads)
    agg = spans.get("aggregate")
    if agg is not None:
        a_execs = _under(tr, agg, by_exec)
        at = tracing.exec_totals(a_execs)
        L["aggregate.self_s"] = agg.duration
        L["aggregate.shuffle_bytes"] = at["shuffle_bytes"]
        L["catalog.files_read_ratio"] = at["files_read"] / files if files else 0.0
    agg_writes = [s for s in tr.spans
                  if s.name.startswith("write:agg_") or s.name == "write:sink_repeat_records"]
    L["agg_writes.self_s"] = tracing.covered([(s.start, s.end) for s in agg_writes],
                                             root.start, root.end)
    tot = tracing.exec_totals(execs)
    L["spark.spill_bytes"] = tot["spill_bytes"]
    L["_totals"] = tot
    if res is not None and res.metrics.get("rows_total"):
        L["parse.match_ratio"] = res.metrics["rows_matched"] / res.metrics["rows_total"]
    L["pipeline.self_s"] = tr.self_time(root)

    cuts = _run_cuts(b, df)
    L.update({k: v for k, v in cuts.items() if not k.startswith("_")})
    L.update(_fallback_cut(b, df))
    # layer split of one run: narrow layers (cuts), the parquet write +
    # commit beyond them, the aggregate, the aggregate/repeat writes and
    # run_pipeline's own orchestration (its span's self time)
    if write is not None and agg is not None:
        parts = {
            **{k: cuts[k] for k in ("parse.classify_s", "parse.extract_s", "enrich.self_s",
                                    "route.self_s", "shuffle.self_s")},
            "catalog.write_beyond_cuts_s": write.duration - cuts["_cut_total"],
            "aggregate.self_s": agg.duration,
            "agg_writes.self_s": L["agg_writes.self_s"],
            "pipeline.self_s": L["pipeline.self_s"],
        }
        L["layers.split"] = parts
        L["layers.sum_s"] = sum(parts.values())
        L["layers.share_of_untraced_wall"] = L["layers.sum_s"] / untraced
        L["layers.share_of_traced_wall"] = L["layers.sum_s"] / traced


def _under(tr, span, by_key) -> list:
    out = []
    for sid in tr.descendants(span.sid):
        out.extend(by_key.get(sid, []))
    return out


def _op_counts(execs, jobs, ops: int) -> dict:
    return {
        "spark.jobs": len(jobs) / ops,
        "spark.sql_executions": len(execs) / ops,
        "spark.tasks": sum(j.tasks for j in jobs) / ops,
    }


def _install_catalog_spans(tr) -> list:
    from log_parser_project_spark.catalog import SnapshotCatalog

    def table_arg(_self, *a, **kw):
        return kw.get("table", a[1] if len(a) > 1 else "?")

    return [
        tr.wrap(SnapshotCatalog, "write_table", lambda s, *a, **kw: f"write:{table_arg(s, *a, **kw)}"),
        tr.wrap(SnapshotCatalog, "read_table",
                lambda s, *a, **kw: f"read:{kw.get('table', a[0] if a else '?')}"),
    ]


def _install_aggregate_span(tr, pl):
    """Span the grouping-sets job: ``run_pipeline`` materialises the
    DataFrame ``per_sink_aggregates_onepass`` returns with ``count``."""
    orig = pl.per_sink_aggregates_onepass

    def wrapper(*a, **kw):
        shared, splits = orig(*a, **kw)
        count = shared.count

        def spanned_count():
            with tr.span("aggregate"):
                return count()

        shared.count = spanned_count
        return shared, splits

    pl.per_sink_aggregates_onepass = wrapper
    return lambda: setattr(pl, "per_sink_aggregates_onepass", orig)


# ---------------------------------------------------------------------------
# incremental_ingest
# ---------------------------------------------------------------------------

def incremental(b: Bench) -> None:
    from pyspark.sql import functions as F

    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.generate import EPOCH
    from log_parser_project_spark.plans.pipeline import STAGING_TABLE, build_routed, read_sink
    from log_parser_project_spark.registry import SINKS

    df, _turns = _transcript_setup(b, "incremental_ingest")
    day_of = F.datediff(F.to_date("ts"), F.to_date(F.lit(EPOCH)))
    wh = b.warehouse()
    cat = SnapshotCatalog(b.spark, wh)
    n_days = df.agg(F.max(day_of)).collect()[0][0] + 1

    def write_drop(day):
        routed = build_routed(b.spark, df.filter(day_of == day))
        staged = routed.withColumn("day", F.to_date("ts")).repartition("route", "day")
        cat.write_table(staged, STAGING_TABLE, mode="append", partition_by=["route", "day"],
                        stats_cols=["ts"])

    def read(sink, day):
        return read_sink(cat, sink, ts_range=inputs.day_bounds(day)).count()

    reads = []   # (sink, day, count or None)
    batch_s, read_s = [], []
    cold_s = None
    tr = store = None
    traced_walls, untraced_walls = [], []
    per_drop = []

    def drop(day, traced):
        sink = SINKS[day % len(SINKS)]
        old_sink, old_day = SINKS[(day + 3) % len(SINKS)], day // 2
        mark = store.mark() if traced else None
        files_before = _data_files(os.path.join(wh, STAGING_TABLE))
        span = tr.span if traced else (lambda _name: contextlib.nullcontext())
        with span(f"drop:{day}"):
            t0 = time.perf_counter()
            b.op(write_drop, day)
            with span("slice_read"):
                n, r1 = b.op(read, sink, day)
            t1 = time.perf_counter()
            with span("slice_read"):
                n_old, r2 = b.op(read, old_sink, old_day)
        reads.extend([(sink, day, n), (old_sink, old_day, n_old)])
        if traced:
            execs, jobs = store.since(mark)
            files_after = _data_files(os.path.join(wh, STAGING_TABLE))
            per_drop.append((execs, jobs, t1 - t0, r1, files_before, files_after))
        return t1 - t0, [r1, r2]

    day = 0
    cold_s, _ = drop(day, False)
    day += 1
    if b.args.trace:
        store = tracing.StatusStore(b.spark)
        tr = b.tracer = tracing.Tracer(b.spark, run_id=f"incremental_ingest-{b.args.seed}")
        for _ in range(2):
            w, _ = drop(day, False)
            untraced_walls.append(w)
            day += 1
        restores = _install_catalog_spans(tr)
        try:
            for _ in range(2):
                w, _ = drop(day, True)
                traced_walls.append(w)
                day += 1
        finally:
            for r in restores:
                r()
        batch_s = untraced_walls
        # narrow-layer split of the last drop's slice
        cuts = _run_cuts(b, df.filter(day_of == day - 1))
    else:
        # the same drops in every run of a seed: the table, and the
        # manifest pruning it costs, grow alike
        for _ in range(min(b.warm_ops(), n_days - 1)):
            w, r = drop(day, False)
            batch_s.append(w)
            read_s.extend(r)
            day += 1
    b.rss.stop()
    dropped = day

    # -- checks (untimed) --
    pdf = df.filter(day_of < dropped).toPandas()
    table = cat.read_table(STAGING_TABLE)
    final = {r.route: r.n for r in table.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()}
    matched = table.filter(F.col("matched")).count()
    files_final = _data_files(os.path.join(wh, STAGING_TABLE))
    df.unpersist()
    b.end_session()
    oracle = _oracle(b, pdf)
    want = checks.by_route_day(oracle)
    for sink, d, n in reads:
        if n is not None and n != want.get((sink, d), 0):
            b.wrong(f"read {sink} day {d}: {n} rows, oracle {want.get((sink, d), 0)}")
    want_final = {k: v for k, v in oracle["sink_counts"].items() if v}
    if final != want_final:
        b.wrong(f"final table {final} != oracle {want_final}")

    b.finish_e2e(cold_s, batch_s)
    b.info.update(drops=dropped, files_final=files_final[0],
                  match_ratio=matched / oracle["rows"] if oracle["rows"] else 0.0)
    b.report["batch_p50_s"] = harness.timing(batch_s)
    b.report["batch_tail_s"] = harness.tail(batch_s)
    b.report["read_p50_s"] = harness.timing(read_s)
    b.report["read_tail_s"] = harness.tail(read_s)

    if b.args.trace:
        L = b.layers
        L["tracing.overhead_s"] = statistics.median(traced_walls) - statistics.median(untraced_walls)
        execs = [e for d in per_drop for e in d[0]]
        jobs = [j for d in per_drop for j in d[1]]
        L.update(_op_counts(execs, jobs, ops=len(per_drop)))
        writes = [s for s in tr.spans if s.name == f"write:{STAGING_TABLE}"]
        reads_sp = [s for s in tr.spans if s.name == f"read:{STAGING_TABLE}"]
        by_exec, by_job = tracing.attribute(execs, jobs, default=None)
        w_jobs = [j for s in writes for j in _under(tr, s, by_job)]
        w_execs = [e for s in writes for e in _under(tr, s, by_exec)]
        L["catalog.write_s"] = statistics.median(s.duration for s in writes)
        L["catalog.commit_s"] = L["catalog.write_s"] - tracing.covered(
            [(j.start_ms / 1e3, j.end_ms / 1e3) for j in w_jobs], 0, float("inf")) / len(writes)
        L["catalog.files_written"] = statistics.median(d[5][0] - d[4][0] for d in per_drop)
        L["catalog.bytes_written"] = statistics.median(d[5][1] - d[4][1] for d in per_drop)
        L["catalog.read_plan_s"] = statistics.median(s.duration for s in reads_sp)
        # files opened by the slice reads over files in the table then
        slice_reads = [s for s in tr.spans if s.name == "slice_read"]
        r_execs = [e for s in slice_reads for e in _under(tr, s, by_exec)]
        opened = tracing.exec_totals(r_execs)["files_read"]
        in_table = sum(d[5][0] for d in per_drop) * 2
        L["catalog.files_read_ratio"] = opened / in_table if in_table else 0.0
        wt = tracing.exec_totals(w_execs)
        L["enrich.broadcast_collect_s"] = wt["broadcast_collect_s"] / len(writes)
        L["enrich.broadcast_build_s"] = wt["broadcast_build_s"] / len(writes)
        L["shuffle.bytes"] = wt["shuffle_bytes"] / len(writes)
        L["shuffle.records"] = wt["shuffle_records"] / len(writes)
        L["shuffle.fetch_wait_s"] = wt["fetch_wait_s"] / len(writes)
        tot = tracing.exec_totals(execs)
        L["spark.spill_bytes"] = tot["spill_bytes"] / len(per_drop)
        L["_totals"] = {k: v / len(per_drop) for k, v in tot.items()}
        L["parse.match_ratio"] = b.info["match_ratio"]
        L.update({k: v for k, v in cuts.items() if not k.startswith("_")})
    shutil.rmtree(wh, ignore_errors=True)


# ---------------------------------------------------------------------------
# analyst_queries
# ---------------------------------------------------------------------------

def analyst(b: Bench) -> None:
    from log_parser_project_spark.contract import ordered_queries

    queries = ordered_queries()
    data_dir = inputs.ANALYST_DATA

    def materialise():
        # the tables' footers are read here; their rows on the first pass
        return {t: len(b.spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).columns)
                for t in inputs.ANALYST_TABLES}

    b.info["input"] = {"columns": b.setup(materialise)}
    order = list(HEADLINE)
    random.Random(b.args.seed).shuffle(order)
    b.info["order"] = order

    results: dict[str, list] = {q: [] for q in HEADLINE}
    lat: dict[str, list[float]] = {q: [] for q in HEADLINE}

    def run_query(name):
        fn, _sql = queries[name]
        sdf = fn(b.spark, data_dir)
        return sdf.columns, sdf.collect()

    def one_pass(keep: bool, tr=None):
        total = 0.0
        for name in order:
            if tr is not None:
                with tr.span(f"query:{name}"):
                    res, secs = b.op(run_query, name)
            else:
                res, secs = b.op(run_query, name)
            total += secs
            if res is not None:
                results[name].append(res)
            if keep:
                lat[name].append(secs)
        return total

    cold_s = one_pass(keep=False)
    if b.args.trace:
        untraced = one_pass(keep=True)
        passes = [untraced]
        store = tracing.StatusStore(b.spark)
        tr = b.tracer = tracing.Tracer(b.spark, run_id=f"analyst_queries-{b.args.seed}")
        mark = store.mark()
        traced = one_pass(keep=False, tr=tr)
        execs, jobs = store.since(mark)
    else:
        passes = [one_pass(keep=True) for _ in range(b.warm_ops())]
    b.rss.stop()

    # -- checks (untimed) --
    b.end_session()
    sqls = {q: queries[q][1] for q in HEADLINE if queries[q][1]}
    expected = checks.duckdb_expected(data_dir, inputs.ANALYST_TABLES, sqls)
    for name in HEADLINE:
        for cols, rows in results[name]:
            if name in expected:
                want_cols, want_rows = expected[name]
                if sorted(cols) != want_cols or checks.rows_multiset(cols, rows) != want_rows:
                    b.wrong(f"{name}: differs from DuckDB ({len(rows)} vs {len(want_rows)} rows)")
            else:
                h = inputs.rows_hash(rows)
                try:
                    b.info.setdefault("result_pins", {})[name] = inputs.check_pin(
                        "results", name, h)
                except RuntimeError as e:
                    b.wrong(str(e))

    warm = [s for q in HEADLINE for s in lat[q]]
    b.finish_e2e(cold_s, passes)
    medians = {q: statistics.median(v) for q, v in lat.items() if v}
    b.report["suite_s"] = {"value": sum(medians.values()), "unit": "s",
                           "n": min(len(v) for v in lat.values())}
    b.report["query_p50_s"] = harness.timing(warm)
    b.report["query_tail_s"] = harness.tail(warm)
    b.info["per_query_median_s"] = medians
    b.info["warm_passes_s"] = passes

    if b.args.trace:
        L = b.layers
        L["tracing.overhead_s"] = traced - untraced
        L.update(_op_counts(execs, jobs, ops=len(HEADLINE)))
        by_exec, _ = tracing.attribute(execs, jobs, default=None)
        spans = {s.name[len("query:"):]: s for s in tr.spans}
        for q, s in spans.items():
            L[f"query.{q}_s"] = s.duration
        for layer, qs in (("dedup", ("q_dd_jaccard3_pairs", "q_dd_minhash_pairs")),
                          ("similarity", ("q_sim_topk", "q_sim_gemm_topk"))):
            cand = sum(tracing.exec_totals(by_exec.get(spans[q].sid, []))["max_join_rows"]
                       for q in qs)
            out_rows = sum(len(results[q][-1][1]) for q in qs if results[q])
            L[f"{layer}.candidates_per_result"] = cand / out_rows if out_rows else 0.0
        tot = tracing.exec_totals(execs)
        L["spark.spill_bytes"] = tot["spill_bytes"] / len(HEADLINE)
        L["_totals"] = {k: v / len(HEADLINE) for k, v in tot.items()}
        routed = results["q_pl_routed_events"]
        if routed:
            cols, rows = routed[-1]
            i = cols.index("matched")
            L["parse.match_ratio"] = sum(1 for r in rows if r[i]) / len(rows) if rows else 0.0
