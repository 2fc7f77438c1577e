"""Per-layer report of one workload, with the tracing overhead.

    python3 perfbench/report.py --workload kg_build --seed 1 [--smoke]

Runs the workload once untraced and once traced, with the same seed, each in
its own process (the event log is launch-time conf). Prints every per-layer
metric of the traced run as a table, then the tracing overhead: the traced
pass wall minus the untraced one. The spans and the full records stay under
``.perfbench/<workload>-s<seed>-t1/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, trace: int, smoke: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd + ["--smoke"] * smoke, capture_output=True,
                         text=True, cwd=os.path.dirname(HERE))
    if out.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    plain = run(args.workload, args.seed, 0, args.smoke)
    traced = run(args.workload, args.seed, 1, args.smoke)
    width = max(map(len, traced["metrics"]))
    for name, m in traced["metrics"].items():
        print(f"{name:<{width}}  {m['value']:>12.4f}  {m['unit']}")
    wall = plain["metrics"]["wall_s"]["value"]
    over = traced["metrics"]["trace.wall_s"]["value"] - wall
    print(f"\nuntraced wall_s {wall:.3f} s; tracing overhead {over:+.3f} s "
          f"({100 * over / wall:+.1f}%)")
    print(f"correct: untraced {plain['correct']}, traced {traced['correct']}")
    tag = f"{args.workload}-s{args.seed}-t1" + ("-smoke" * args.smoke)
    print(f"spans: .perfbench/{tag}/spans.jsonl")


if __name__ == "__main__":
    main()
