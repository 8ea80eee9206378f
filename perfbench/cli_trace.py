"""Traced CLI process for the ``snapshot_cli`` workload.

    python perfbench/cli_trace.py CONF SPANS_OUT SPAWN_TS

Runs ``hbase_snapshotter_spark.__main__.main([CONF])`` in this process
with spans wrapped around the names ``__main__``, ``pipeline`` and
``config`` import, so the traced path is the real CLI's.  ``SPAWN_TS``
is the parent's ``time.perf_counter()`` when it started this process;
the ``op`` span runs from there to the end of ``main``.  After ``main``
the layer probes run (outside the ``op`` span) and everything is written
to ``SPANS_OUT``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    conf, out, spawn = argv[0], argv[1], float(argv[2])
    from spans import Tracer

    tracer = Tracer(f"cli-{os.getpid()}")
    with tracer.span("package.import", "package", group=False):
        import hbase_snapshotter_spark.__main__ as cli
    import traced

    traced.wrap_cli(tracer, cli)
    with tracer.span("cli.main", "cli") as main_span:
        rc = cli.main([conf])
    end = time.perf_counter()
    run = [s for s in tracer.spans if s["name"] == "pipeline.run_snapshot"][-1]
    tracer.add("cli.post_write", "cli", run["end"], end, main_span["id"])
    op = tracer.add("op", "process", spawn, end, None)
    for s in tracer.spans:
        if s["parent"] is None and s is not op:
            s["parent"] = op["id"]

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    with open(conf) as fh:
        changelog_dir = json.load(fh)["hbase"]["table"]
    metrics = traced.cli_process_metrics(spark, changelog_dir)
    metrics.update(traced.snapshot_op_metrics(spark, tracer.spans))
    metrics["cli.post_write_s"] = end - run["end"]
    metrics.update(traced.snapshot_probes(spark, tracer, conf, source="parquet",
                                          work=os.getcwd()))
    with open(out, "w") as fh:
        json.dump({"spans": tracer.spans, "metrics": metrics}, fh)
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
