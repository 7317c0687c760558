"""The benchmark's inputs, made from ``--seed``.

* Transcript workloads take the conversations of the program's own
  generator (``generate.make_transcripts``) that a hash of their
  conv_id and the seed selects, so a different seed gives different
  rows, not relabelled ones.
* ``analyst_queries`` reads the fixed TESTDATA sf0.01 tables in
  ``data/``; its seed only shuffles the order the queries are issued in.

Every input is fingerprinted (row count + an order-independent content
hash). ``pins.json`` records the fingerprints per workload, size and
seed, so a program change that alters the generated input fails the
run instead of quietly moving the benchmark.
"""

from __future__ import annotations

import dataclasses
import datetime
import hashlib
import json
import os

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")

# conversations per input, by size; "smoke" is the seconds-long size
# the benchmark's own tests run
CONVS = {
    "full": {"flagship_batch": 12_000, "incremental_ingest": 20_000},
    "smoke": {"flagship_batch": 2_000, "incremental_ingest": 3_000},
}
# a seed keeps one conversation in SAMPLE
SAMPLE = 8
ANALYST_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
ANALYST_TABLES = [
    "region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings",
]


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------

def transcripts(spark, n_convs: int, seed: int, parts: int):
    """About ``n_convs`` conversations of the program's generator: of its
    first ``SAMPLE * n_convs``, those whose ``xxhash64(conv_id, seed)``
    falls in one of ``SAMPLE`` buckets. The filter runs before the
    generator explodes conversations into turns, and the kept ones are
    spread evenly over the ``parts`` generating tasks, so set-up does
    the same work for every seed."""
    from pyspark.sql import functions as F

    from log_parser_project_spark.generate import make_transcripts

    pick = F.pmod(F.xxhash64("conv_id", F.lit(seed)), F.lit(SAMPLE)) == 0
    return make_transcripts(spark, n_convs=SAMPLE * n_convs, parts=parts).filter(pick)


def fingerprint(df) -> dict:
    """Row count and an order-independent content hash of a DataFrame:
    the exact sum of per-row xxhash64 over every column."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return {"rows": int(row.rows), "hash": str(row.h or 0)}


def fallback_registry():
    """The shipped registry rewritten with ``\\d`` / ``\\w``: on the
    generator's ASCII text it matches exactly what the shipped one
    matches, but the portability screen of ``choose_extractor`` rejects
    it, so ``extractor="auto"`` picks the Python fallback engine —
    whichever fallback the program keeps."""
    from log_parser_project_spark.registry import PATTERNS

    def rw(rx):
        if rx is None:
            return None
        return rx.replace("[0-9]", r"\d").replace("[A-Za-z0-9_]", r"\w")

    return tuple(
        dataclasses.replace(p, regex=rw(p.regex), repeat_group=rw(p.repeat_group))
        for p in PATTERNS
    )


# ---------------------------------------------------------------------------
# pins
# ---------------------------------------------------------------------------

def load_pins() -> dict:
    try:
        with open(PINS_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def check_pin(kind: str, key: str, value) -> str:
    """"match", or "unpinned" when no value is recorded for ``key``;
    raises on a mismatch, which is the point of pinning."""
    pinned = load_pins().get(kind, {}).get(key)
    if pinned is None:
        return "unpinned"
    if pinned != value:
        raise RuntimeError(
            f"{kind} {key}: got {value}, pinned {pinned} — the program changed "
            "the benchmark's input or an unchecked result"
        )
    return "match"


def rows_hash(rows) -> str:
    """Order-independent digest of collected rows (for results without
    an oracle)."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def day_bounds(day: int) -> tuple[str, str]:
    """Inclusive ISO bounds of generator day ``day`` (day 0 starts at
    the generator's epoch)."""
    from log_parser_project_spark.generate import EPOCH

    lo = datetime.datetime.fromisoformat(EPOCH) + datetime.timedelta(days=day)
    hi = lo + datetime.timedelta(days=1) - datetime.timedelta(microseconds=1)
    return lo.isoformat(), hi.isoformat()
