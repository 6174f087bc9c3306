"""Benchmark of the PySpark retrieval engine.

    python3 perfbench/run.py --workload {serve,cold} --seed N --seconds S \
        --trace {0,1} [--tiny]

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Untraced
(``--trace 0``) runs report the end-to-end metrics; traced runs report the
per-layer metrics, and write their spans to ``.perfbench_out/``. ``--tiny``
shrinks the corpora for the benchmark's own smoke tests. See
``workloads.py`` for what each workload does and BENCHMARK.json for the
metric list.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import REPO, host_settings  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "cold"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "review_recommender_spark")):
        print("perfbench: run from a checkout of the repository (the "
              "review_recommender_spark package is missing)", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from workloads import END_TO_END, PER_LAYER, run_workload

    t0 = time.perf_counter()
    r = run_workload(args.workload, args.seed, args.seconds,
                     bool(args.trace), args.tiny, host_settings())
    if args.trace:
        values = dict(r.layer)
        values.update({f"trace.{k}": v for k, v in r.e2e.items()})
        values["trace.bookkeeping_share"] = (
            values["trace.bookkeeping_ms"] / 1e3 / (time.perf_counter() - t0))
        units = PER_LAYER
    else:
        values, units = r.e2e, END_TO_END
    if set(values) != set(units):
        print(f"perfbench: metrics differ from the declared list: "
              f"{sorted(set(values) ^ set(units))}", file=sys.stderr)
        return 3
    out = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
