"""Where a workload's time goes, and what tracing it costs.

    python3 perfbench/report.py --workload etl_incremental --seed 1 --seconds 15

Runs the benchmark untraced and then traced on the same seed, and
prints each layer's share of the operations' wall time (self time: a
span's duration minus its child spans), the share no layer accounts for,
and the tracing overhead: the traced run's median operation time minus
the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(args: argparse.Namespace, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=600)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    args = ap.parse_args()

    plain = _run(args, 0)["metrics"]["latency_s"]["value"]
    _run(args, 1)
    trace_file = os.path.join(ROOT, ".perfbench_work", "traces",
                              f"{args.workload}-seed{args.seed}.json")
    with open(trace_file) as f:
        trace = json.load(f)
    report, traced = trace["report"], trace["metrics"]["trace.latency_s"]
    print(f"{args.workload} seed {args.seed}: {report['ops']} traced operations, "
          f"{report['wall_s']:.2f}s")
    for layer, share in sorted(report["self_share"].items(), key=lambda kv: -kv[1]):
        print(f"  {layer:14s} {share:6.1%}  {report['self_s'][layer]:8.3f}s")
    print(f"  per-file layers (csv, normalize, fs, state): {report['per_file_share']:.1%}")
    print(f"  accounted for by layers: {report['coverage']:.1%}")
    print(f"latency_s untraced {plain:.3f}s, traced {traced:.3f}s, "
          f"overhead {traced - plain:+.3f}s ({(traced - plain) / plain:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
