"""Correctness checks. None of this is timed.

* Transcript workloads are checked against the program's independent
  pure-Python oracle (``oracle.run_oracle``), run over the same input
  in a few spawned processes because it is row-at-a-time Python.
* Analyst queries are compared with their DuckDB oracle SQL over the
  same parquet files, the way ``tests/test_duckdb_parity.py`` compares
  them.
"""

from __future__ import annotations

import math
import multiprocessing
from collections import Counter

_ORACLE_KEYS = ("sink_counts", "by_conv", "by_role", "by_tool", "by_hour")


def _oracle_chunk(pdf) -> dict:
    from log_parser_project_spark.oracle import run_oracle

    o = run_oracle(pdf)
    out = {k: Counter(o[k]) for k in _ORACLE_KEYS}
    out["repeat_records"] = len(o["repeat_records"])
    out["rows"] = len(pdf)
    out["matched"] = int(o["routed"]["matched"].sum())
    return out


def oracle_counts(pdf, workers: int) -> dict:
    """``run_oracle`` over ``pdf`` split by conversation into chunks run
    on ``workers`` spawned processes; the per-chunk counters add up to
    the counters of one call over the whole frame (every key is a count
    over rows, and repeat records are keyed by their turn)."""
    if len(pdf) == 0:
        return {**{k: Counter() for k in _ORACLE_KEYS}, "repeat_records": 0, "rows": 0, "matched": 0}
    n_chunks = max(1, min(len(pdf) // 20_000, workers * 2))
    chunk_of = pdf["conv_id"].map(hash) % n_chunks
    chunks = [pdf[chunk_of == i] for i in range(n_chunks)]
    chunks = [c for c in chunks if len(c)]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(min(workers, len(chunks)))
    try:
        parts = pool.map(_oracle_chunk, chunks)
    finally:
        pool.close()
        pool.join()
    total = {k: Counter() for k in _ORACLE_KEYS}
    total.update(repeat_records=0, rows=0, matched=0)
    for p in parts:
        for k in _ORACLE_KEYS:
            total[k].update(p[k])
        for k in ("repeat_records", "rows", "matched"):
            total[k] += p[k]
    return total


def by_route_day(oracle: dict) -> Counter:
    """Oracle rows per (route, day index from the generator epoch),
    summed from its per-(route, hour) counts."""
    import pandas as pd

    from log_parser_project_spark.generate import EPOCH

    epoch = pd.Timestamp(EPOCH)
    out: Counter = Counter()
    for (route, hour), n in oracle["by_hour"].items():
        out[(route, (pd.Timestamp(hour) - epoch).days)] += n
    return out


def pipeline_outputs(catalog, result) -> dict:
    """Collect what one ``run_pipeline`` call produced: its sink counts,
    its four aggregate tables and the repeat-record count."""
    import pandas as pd

    def table(name, keys):
        return Counter({tuple(r[k] for k in keys) if len(keys) > 1 else r[keys[0]]: r["n"]
                        for r in catalog.read_table(name).collect()})

    by_hour = table("agg_by_hour", ["route", "hour"])
    return {
        "sink_counts": dict(result.sink_counts),
        "by_conv": table("agg_by_conv", ["conv_id"]),
        "by_role": table("agg_by_role", ["route", "role"]),
        "by_tool": table("agg_by_tool", ["route", "tool"]),
        "by_hour": Counter({(r, pd.Timestamp(h)): n for (r, h), n in by_hour.items()}),
        "repeat_records": catalog.read_table("sink_repeat_records").count(),
    }


def pipeline_mismatches(out: dict, oracle: dict) -> list[str]:
    """Differences between collected pipeline outputs and the oracle
    (empty = correct)."""
    import pandas as pd

    bad = []
    want_sinks = {s: oracle["sink_counts"].get(s, 0) for s in out["sink_counts"]}
    if out["sink_counts"] != want_sinks or sum(want_sinks.values()) != oracle["rows"]:
        bad.append(f"sink_counts {out['sink_counts']} != oracle {dict(oracle['sink_counts'])}")
    want_hour = Counter({(r, pd.Timestamp(h)): n for (r, h), n in oracle["by_hour"].items()})
    for k, want in (("by_conv", oracle["by_conv"]), ("by_role", oracle["by_role"]),
                    ("by_tool", oracle["by_tool"]), ("by_hour", want_hour)):
        if out[k] != want:
            diff = len(set(out[k].items()) ^ set(want.items()))
            bad.append(f"agg_{k}: {diff} differing (key, n) entries")
    if out["repeat_records"] != oracle["repeat_records"]:
        bad.append(f"sink_repeat_records {out['repeat_records']} != oracle {oracle['repeat_records']}")
    return bad


# ---------------------------------------------------------------------------
# DuckDB parity for the analyst queries
# ---------------------------------------------------------------------------

def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def duckdb_expected(data_dir: str, tables: list[str], sqls: dict[str, str]) -> dict:
    """Run each oracle SQL in DuckDB over the parquet files; returns
    ``name -> (sorted column names, normalised row multiset)``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = (sorted(cols), rows_multiset(cols, res.fetchall()))
        return out
    finally:
        con.close()
