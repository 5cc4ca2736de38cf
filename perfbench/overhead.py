"""Tracing overhead: run one workload untraced and traced on the same seed
and print how much the traced run's end-to-end figures moved.

    python3 perfbench/overhead.py --workload ingest --seed 1 --seconds 12

The traced run reports its own ``ops_per_core_s`` and ``cycle_cpu_s`` as
``trace.ops_per_core_s`` and ``trace.cycle_cpu_s``; the difference to the
untraced run's figures is the overhead of setting job groups and reading
Spark's status store after every layer call.
``trace.collect_s`` is the part spent reading the status store.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _metrics(args, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", args.workload, "--seed",
         str(args.seed), "--seconds", str(args.seconds), "--trace",
         str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()[-1]
    return {k: v["value"] for k, v in json.loads(out)["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()
    plain, traced = _metrics(args, 0), _metrics(args, 1)
    for name in ("ops_per_core_s", "cycle_cpu_s"):
        off, on = plain[name], traced[f"trace.{name}"]
        print(f"{name:<16} untraced {off:10.3f}  traced {on:10.3f}  "
              f"overhead {on - off:+10.3f} ({(on - off) / off:+.1%})")
    print(f"status-store reads in the traced run: "
          f"{traced['trace.collect_s']:.3f} s")


if __name__ == "__main__":
    main()
