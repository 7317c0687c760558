"""Record ``pins.json``: the input fingerprint of every transcript
workload, size and seed in ``range(--seeds)``, and the result hash of
each analyst query that has no oracle. Run it only when the inputs are
meant to change (a new generator or workload size), from the root of a
checkout:

    python3 perfbench/record_pins.py --seeds 64
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402
import inputs  # noqa: E402
from workloads import HEADLINE  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=int, default=64)
    args = p.parse_args()
    workdir = os.path.join(HERE, ".work", f"pins-{os.getpid()}")
    os.makedirs(workdir)
    os.environ.update(TZ="UTC", TMPDIR=workdir)
    sess = harness.Session(workdir, harness.cores())
    try:
        pins = {"inputs": {}, "results": {}}
        for size, convs in inputs.CONVS.items():
            for workload, n in convs.items():
                for seed in range(args.seeds):
                    df = inputs.transcripts(sess.spark, n, seed, parts=2 * harness.cores())
                    pins["inputs"][f"{workload}/{size}/{seed}"] = inputs.fingerprint(df)
                print(size, workload, "done", file=sys.stderr)
        from log_parser_project_spark.contract import ordered_queries

        queries = ordered_queries()
        for name in HEADLINE:
            fn, sql = queries[name]
            if sql is None:
                rows = fn(sess.spark, inputs.ANALYST_DATA).collect()
                pins["results"][name] = inputs.rows_hash(rows)
    finally:
        sess.close()
        shutil.rmtree(workdir, ignore_errors=True)
    with open(inputs.PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
