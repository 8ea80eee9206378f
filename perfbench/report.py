#!/usr/bin/env python3
"""Traced-run report: for each workload, run it untraced and traced and
print every layer's self time, its share of ``op_s``, the Spark counters
of the traced run, and the tracing overhead (traced ``op_s`` minus
untraced ``op_s``).  The span files and ``report.json`` (the same
figures) stay in ``.perfbench/``.

    python3 perfbench/report.py --seed 1 --seconds 12
    python3 perfbench/report.py --seed 1 --seconds 1 --sf-dir FIXTURE_DIR --workloads llm_queries

Without ``--sf-dir`` it covers every workload except ``llm_queries``.

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOAD_NAMES  # noqa: E402
from traced import LAYERS  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int, sf_dir: str | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if sf_dir:
        cmd += ["--sf-dir", sf_dir]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def report(workload: str, seed: int, seconds: float, sf_dir: str | None,
           record: dict) -> bool:
    plain = _run(workload, seed, seconds, 0, sf_dir)["metrics"]
    traced = _run(workload, seed, seconds, 1, sf_dir)
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    op_s = m["trace.op_s"]
    record[workload] = {"seed": seed, "untraced": plain, "tracing_overhead_s":
                        op_s - plain["op_s"]["value"],
                        "traced": {k: v for k, v in m.items() if v}}
    print(f"\n== {workload} (seed {seed}): op_s untraced {plain['op_s']['value']:.3f} s, "
          f"traced {op_s:.3f} s, tracing overhead "
          f"{op_s - plain['op_s']['value']:+.3f} s; "
          f"{traced['attempted']} ops checked, {traced['failed']} failed")
    print(f"   {'layer':<22}{'self s/op':>11}{'share':>8}")
    total = 0.0
    for layer in LAYERS:
        self_s = m.get(f"self.{layer}", 0.0)
        total += self_s
        if self_s:
            print(f"   {layer:<22}{self_s:>11.3f}{self_s / op_s:>8.1%}")
    print(f"   {'sum':<22}{total:>11.3f}{total / op_s:>8.1%}")
    print("   counters and layer timings:")
    for name, v in traced["metrics"].items():
        if not name.startswith("self.") and v["value"]:
            print(f"     {name:<46}{v['value']:>14.6g} {v['unit']}")
    print(f"   spans: .perfbench/spans-{workload}-{seed}.json")
    return total <= op_s * 1.0001


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--sf-dir", help="fixture directory, needed by llm_queries")
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args(argv)
    workloads = args.workloads or [w for w in WORKLOAD_NAMES
                                   if args.sf_dir or w != "llm_queries"]
    record: dict = {}
    ok = all([report(w, args.seed, args.seconds, args.sf_dir, record) for w in workloads])
    with open(os.path.join(".perfbench", "report.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print("\nself times add up to no more than op_s on every workload" if ok
          else "\nself times exceed op_s on some workload")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
