"""Self-check of the benchmark's exact counters.

    python3 perfbench/selfcheck.py --workload {serve,cold} --seed N \
        [--seconds S] [--tiny]

Makes two traced runs with the same seed and compares the counters that
must repeat bit-for-bit (``workloads.EXACT``: jobs and tasks per call,
blocks decoded and total, postings, bytes written, snapshots). Exits 1 and
names the counters that differ, or a run that failed; exits 0 otherwise.
A later change may rest a count claim only on counters this check holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import EXACT  # noqa: E402


def traced_run(workload: str, seed: int, seconds: float,
               tiny: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1"]
    if tiny:
        cmd.append("--tiny")
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                       cwd=os.path.dirname(HERE))
    if p.returncode != 0:
        raise RuntimeError(f"run failed ({p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def differences(runs: list[dict]) -> list[str]:
    """What makes two traced runs with one seed fail the self-check."""
    bad = [f"run {i} reported {r['failed']} failed of {r['attempted']}"
           for i, r in enumerate(runs) if not r["correct"]]
    a, b = ({k: r["metrics"][k]["value"] for k in EXACT} for r in runs)
    return bad + [f"{k}: {a[k]} != {b[k]}" for k in EXACT if a[k] != b[k]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "cold"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)

    runs = [traced_run(args.workload, args.seed, args.seconds, args.tiny)
            for _ in range(2)]
    bad = differences(runs)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "exact": {k: runs[0]["metrics"][k]["value"]
                                for k in EXACT},
                      "differences": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
