#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload snapshot_cli --seed 1 --seconds 12 --trace 0

Run from the repository root.  The inputs are generated from ``--seed``
(cached under ``.perfbench/inputs``), the program is driven through its
public entry points, every operation's output is checked against a
DuckDB replay, and the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the traced variant
and reports the per-layer metrics (and writes the span file to
``.perfbench/spans-<workload>-<seed>.json``).

Everything the run writes stays under ``.perfbench/`` in the current
directory, including Spark's and the JVM's temporary files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: ``snapshot_regions`` and ``llm_queries`` are run by hand (see
#: BASELINE.json for why they are not in BENCHMARK.json);
#: ``llm_queries`` needs ``--sf-dir``, a fixture directory of TESTDATA.md.
WORKLOAD_NAMES = ("snapshot_cli", "snapshot_regions", "stream_maintain", "llm_queries")


def _isolate(base: str) -> None:
    """Point every temporary-file location of Spark, the JVM and Python into
    ``base`` so the run reads and writes only inside the checkout."""
    tmp = os.path.join(base, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what an earlier run left behind
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} " + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="fixture directory read by llm_queries")
    args = ap.parse_args(argv)
    if args.workload == "llm_queries" and not args.sf_dir:
        ap.error("llm_queries needs --sf-dir")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hbase_snapshotter_spark", "__main__.py")):
        print("perfbench: run from the repository root; the hbase_snapshotter_spark "
              "package is not here", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    base = os.path.join(root, ".perfbench")
    _isolate(base)

    import gen
    import measure
    import workloads

    measure.become_subreaper()
    if args.workload == "llm_queries":
        inputs = workloads.llm_inputs(os.path.abspath(args.sf_dir), args.seed)
    else:
        # generated in a child, so the generator's memory is not the program's
        inputs = measure.in_child(gen.cached_inputs, args.workload, args.seed,
                                  os.path.join(base, "inputs"))
    workloads.log(f"inputs ready: {inputs['cells']} cells, {inputs['input_bytes']} bytes")
    work = os.path.join(base, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = workloads.WORKLOADS[args.workload](inputs, args.seconds, work, bool(args.trace))
    shutil.rmtree(work, ignore_errors=True)
    workloads.log("workload finished")

    if args.trace:
        import spans
        import traced

        metrics = traced.per_layer(res, args.workload)
        spans.dump(res.spans, os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = res.end_to_end()
    for msg in res.tally.mismatches:
        print(f"MISMATCH {msg}")
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} operations: {res.tally.attempted} attempted, "
          f"{res.tally.failed} failed (failed_ratio {res.tally.failed_ratio:.6g})")
    print(json.dumps({
        "correct": res.tally.failed == 0,
        "attempted": res.tally.attempted,
        "failed": res.tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
