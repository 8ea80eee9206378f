"""Traced-run instrumentation: wrappers on the names the package's
modules import from each other, probes that isolate one layer, and the
per-layer metrics built from the spans.

The wrappers replace module attributes in the benchmark's own process
(or in the traced CLI process), so the code paths are the program's own
and nothing under ``hbase_snapshotter_spark/`` changes.
"""

from __future__ import annotations

import json
import os
import statistics

import spans as sp
from measure import dir_stats

#: Layers as the per-layer report names them, in pipeline order.
LAYERS = ["process", "package", "session", "config", "plans.schema",
          "sources.changelog", "sources.pyds", "operators.snapshot",
          "sources.warehouse", "pipeline", "cli", "streaming", "cache", "queries",
          "unattributed"]
LLM_LAYERS = ["cache", "queries"]
LLM_MIX = ("dedup_pairs_suite", "join_size_estimate", "similarity_topk_ivf_suite",
           "text_analysis")


def wrap_pipeline(tracer) -> None:
    """Wrap what ``pipeline`` and ``config`` call, under the names they
    imported."""
    from hbase_snapshotter_spark import config, pipeline
    from hbase_snapshotter_spark.sources import pyds

    tracer.wrap(config.SnapshotSettings, "from_json", "config.from_json", "config")
    tracer.wrap(config, "schema_as_of", "plans.schema.schema_as_of", "plans.schema")
    tracer.wrap(config, "explicit_schema", "plans.schema.explicit_schema", "plans.schema")
    tracer.wrap(pipeline, "read_changelog", "sources.changelog.read", "sources.changelog")
    tracer.wrap(pyds, "register", "sources.pyds.register", "sources.pyds")
    tracer.wrap(pipeline, "snapshot_as_of", "operators.snapshot.build", "operators.snapshot")
    tracer.wrap(pipeline, "write_snapshot", "sources.warehouse.write", "sources.warehouse")
    tracer.wrap(pipeline, "run_snapshot", "pipeline.run_snapshot", "pipeline")


def wrap_cli(tracer, cli_module) -> None:
    """Wrap the names ``__main__`` imported, plus session start."""
    from pyspark.sql import SparkSession

    wrap_pipeline(tracer)
    tracer.wrap(cli_module, "run_snapshot", "pipeline.run_snapshot", "pipeline")
    tracer.wrap(SparkSession.Builder, "getOrCreate", "session.start", "session")


def wrap_cache(tracer) -> None:
    """Wrap ``cache.shared_stage`` (the query modules import it at call
    time) and count the calls that build the stage."""
    from hbase_snapshotter_spark import cache

    shared_stage = cache.shared_stage

    def counted(key, builder):
        def build():
            with tracer.span("cache.shared_stage.build", "cache"):
                return builder()

        return shared_stage(key, build)

    cache.shared_stage = counted
    tracer.wrap(cache, "shared_stage", "cache.shared_stage", "cache")


def wrap_streaming(tracer) -> None:
    from hbase_snapshotter_spark.streaming import snapshot_stream as ss

    tracer.wrap(ss.SnapshotMaintainer, "process_batch", "streaming.batch", "streaming")
    tracer.wrap(ss, "latest_cells", "operators.snapshot.latest_cells", "operators.snapshot")
    tracer.wrap(ss, "advance_latest_cells", "operators.snapshot.advance",
          "operators.snapshot")


# ---------------------------------------------------------------- helpers

#: The per-layer metrics of the scheduled workloads (BENCHMARK.json's
#: ``per_layer``) and their units; a traced run reports all of them (0
#: for a layer the workload leaves idle).
PER_LAYER = {
    "package.import_s": "s", "session.start_s": "s", "config.from_json_s": "s",
    "plans.schema.schema_as_of_s": "s", "plans.schema.jobs": "count",
    "sources.changelog.scan_s": "s", "sources.changelog.input_bytes": "B",
    "sources.changelog.rows_read": "rows",
    "sources.pyds.plan_s": "s", "sources.pyds.scan_s": "s",
    "sources.pyds.regions_read": "count", "sources.pyds.region_skip_ratio": "ratio",
    "sources.pyds.rows_read": "rows",
    "operators.snapshot.build_s": "s", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "operators.snapshot.exec_s": "s", "operators.snapshot.exchanges": "count",
    "operators.snapshot.shuffle_write_bytes": "B", "operators.snapshot.shuffle_read_bytes": "B",
    "operators.snapshot.spill_bytes": "B", "operators.snapshot.live_cell_ratio": "ratio",
    "sources.warehouse.write_s": "s", "sources.warehouse.self_s": "s",
    "sources.warehouse.bytes_written": "B", "sources.warehouse.files_written": "count",
    "pipeline.run_snapshot_s": "s",
    "cli.post_write_s": "s", "cli.jobs": "count", "cli.snapshot_dag_runs": "count",
    "streaming.batch_s": "s", "streaming.trigger_overhead_s": "s",
    "streaming.state_rows": "rows", "streaming.state_bytes_written_per_delta_byte": "ratio",
    "streaming.state_files": "count",
    **{f"self.{layer}": "s" for layer in LAYERS if layer not in LLM_LAYERS + ["sources.pyds"]},
    "trace.op_s": "s", "failed_ratio": "ratio",
}
#: The cache and query layers, which only the hand-run ``llm_queries``
#: exercises; its traced run reports these too.
LLM_PER_LAYER = {
    "cache.shared_stage_s": "s", "cache.shared_stage_calls": "count",
    "cache.shared_stage_builds": "count", "cache.release_s": "s",
    **{f"queries.{q}.{m}": u for q in LLM_MIX for m, u in (
        ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count"),
        ("shuffle_bytes", "B"), ("spill_bytes", "B"))},
    **{f"self.{layer}": "s" for layer in LLM_LAYERS},
}


def _med(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def in_ops(spans: list[dict]) -> list[dict]:
    """The spans inside ``op`` spans (warm-up and probes excluded)."""
    out = []
    for op in (s for s in spans if s["name"] == "op"):
        out.extend(sp.descendants(spans, op["id"]))
    return out


def _durations(spans, name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def _counters(spark, spans, name: str) -> list[dict]:
    return [sp.spark_counters(spark, [s["group"]])
            for s in spans if s["name"] == name and s["group"]]


def per_layer(res, workload: str) -> dict[str, tuple[float, str]]:
    """Every ``PER_LAYER`` metric of a traced run (and ``LLM_PER_LAYER``
    for ``llm_queries``): the median of what the run noted, self times
    per layer, and 0 for idle layers."""
    values = {k: _med(v) for k, v in res.layers.items()}
    ops = [s for s in res.spans if s["name"] == "op"]
    # self times and trace.op_s are both means over the traced operations,
    # so the self times of an operation's layers add up to trace.op_s
    totals = sp.layer_self_times(res.spans)
    for layer in LAYERS:
        values[f"self.{layer}"] = totals.get(layer, 0.0) / max(len(ops), 1)
    values["trace.op_s"] = sum(s["end"] - s["start"] for s in ops) / max(len(ops), 1)
    if "sources.warehouse.write_s" in values and "operators.snapshot.exec_s" in values:
        values["sources.warehouse.self_s"] = (values["sources.warehouse.write_s"]
                                              - values["operators.snapshot.exec_s"])
    values["failed_ratio"] = res.tally.failed_ratio
    names = dict(PER_LAYER, **(LLM_PER_LAYER if workload == "llm_queries" else {}))
    names.update({f"self.{layer}": "s" for layer in LAYERS if values[f"self.{layer}"]})
    return {k: (float(values.get(k, 0.0)), unit) for k, unit in names.items()}


# ---------------------------------------------------------------- snapshot probes

def _scan_probe(spark, tracer, path: str, ts: int, *, source: str, work: str):
    """Noop scan of the log at ``path`` filtered to ``ts``; returns the
    scan metrics and the unfiltered log DataFrame."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.snapshot import as_of
    from hbase_snapshotter_spark.sources.changelog import read_changelog

    m: dict[str, float] = {}
    scan_log = os.path.join(work, "scanlog.json")
    if source == "pyds":
        log = (spark.read.format("changelog").option("path", path)
               .option("debugscanlog", scan_log).load())
    else:
        log = read_changelog(spark, path)
    obs = Observation("perfbench_scan")
    scan = as_of(log, ts).observe(obs, F.count(F.lit(1)).alias("rows"))
    prefix = "sources.pyds" if source == "pyds" else "sources.changelog"
    if source == "pyds":
        with tracer.span("probe.pyds.plan", "probe") as plan:
            scan._jdf.queryExecution().executedPlan()
        m["sources.pyds.plan_s"] = plan["end"] - plan["start"]
    with tracer.span("probe.scan", "probe") as scan_span:
        scan.write.format("noop").mode("overwrite").save()
    m[f"{prefix}.scan_s"] = scan_span["end"] - scan_span["start"]
    m[f"{prefix}.rows_read"] = obs.get["rows"]
    if source == "pyds":
        with open(scan_log) as fh:
            regions = json.load(fh)
        m["sources.pyds.regions_read"] = regions["regions_read"]
        m["sources.pyds.region_skip_ratio"] = 1 - regions["regions_read"] / regions["regions_total"]
    return m, log


def region_scan_probe(spark, tracer, feed: str, work: str) -> dict:
    """Batch scan, through the same Python data source, of the region
    files a stream has landed, at the ts of the last of the first
    ``n // 2`` files: the region source's plan and scan time and its
    pruning of the later files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = sorted(os.path.join(feed, n) for n in os.listdir(feed) if n.endswith(".parquet"))
    last = pq.read_table(files[len(files) // 2 - 1], columns=["cell_ts"])
    m, _ = _scan_probe(spark, tracer, feed, pc.max(last["cell_ts"]).as_py(),
                          source="pyds", work=work)
    return {k: m[k] for k in ("sources.pyds.plan_s", "sources.pyds.scan_s",
                              "sources.pyds.region_skip_ratio")}


def snapshot_probes(spark, tracer, conf: str, *, source: str, work: str) -> dict:
    """Run once after the traced operations, outside them: a noop scan
    of the ts-filtered log, then the snapshot DataFrame alone (Catalyst
    phases, exchanges, noop execution)."""
    from hbase_snapshotter_spark.config import SnapshotSettings
    from hbase_snapshotter_spark.operators.snapshot import snapshot_as_of

    settings = SnapshotSettings.from_json(conf)
    m, log = _scan_probe(spark, tracer, settings.source_table, settings.timestamp,
                         source=source, work=work)

    history = (spark.read.parquet(settings.mysql_schema_history)
               if settings.mysql_schema_history else None)
    snap = snapshot_as_of(log, settings.resolve_schema(history), settings.timestamp)
    for phase, ms in sp.catalyst_phases(snap).items():
        m[f"catalyst.{phase}_ms"] = ms
    m["operators.snapshot.exchanges"] = sp.count_exchanges(snap)
    with tracer.span("probe.snapshot.exec", "probe") as ex:
        snap.write.format("noop").mode("overwrite").save()
    m["operators.snapshot.exec_s"] = ex["end"] - ex["start"]
    if source != "pyds":
        m["sources.changelog.input_bytes"] = scanned_bytes(settings.source_table,
                                                           settings.timestamp)
    return m


def scanned_bytes(path: str, ts: int) -> int:
    """Compressed bytes of the Parquet row groups under ``path`` that the
    pushed ``cell_ts <= ts`` filter cannot skip.  (Spark's own stage
    ``inputBytes`` counts only the footers of local vectorized Parquet
    reads, a few KB whatever the scan.)"""
    import pyarrow.parquet as pq

    total = 0
    for d, _, names in os.walk(path):
        for name in sorted(n for n in names if n.endswith(".parquet")):
            meta = pq.ParquetFile(os.path.join(d, name)).metadata
            col = meta.schema.to_arrow_schema().get_field_index("cell_ts")
            for i in range(meta.num_row_groups):
                rg = meta.row_group(i)
                stats = rg.column(col).statistics
                if stats is None or not stats.has_min_max or stats.min <= ts:
                    total += sum(rg.column(c).total_compressed_size
                                 for c in range(rg.num_columns))
    return total


def snapshot_op_metrics(spark, spans: list[dict]) -> dict:
    """Per-operation medians of the traced snapshot pipeline's spans."""
    sp.wait_for_listener(spark)
    inside = in_ops(spans)
    writes = _counters(spark, inside, "sources.warehouse.write")
    schema = _counters(spark, inside, "plans.schema.schema_as_of")
    return {
        "config.from_json_s": _med(_durations(inside, "config.from_json")),
        "plans.schema.schema_as_of_s": _med(_durations(inside, "plans.schema.schema_as_of")),
        "plans.schema.jobs": _med(c["jobs"] for c in schema),
        "operators.snapshot.build_s": _med(_durations(inside, "operators.snapshot.build")),
        "operators.snapshot.shuffle_write_bytes": _med(c["shuffle_write_bytes"] for c in writes),
        "operators.snapshot.shuffle_read_bytes": _med(c["shuffle_read_bytes"] for c in writes),
        "operators.snapshot.spill_bytes": _med(c["spill_bytes"] for c in writes),
        "sources.warehouse.write_s": _med(_durations(inside, "sources.warehouse.write")),
        "pipeline.run_snapshot_s": _med(_durations(inside, "pipeline.run_snapshot")),
        "package.import_s": _med(_durations(spans, "package.import")),
        "session.start_s": _med(_durations(spans, "session.start")),
    }


def cli_process_metrics(spark, changelog_dir: str) -> dict:
    """Jobs of the whole CLI run, and how many SQL executions ran the
    snapshot DAG (scanned the change log)."""
    sp.wait_for_listener(spark)
    sc = spark.sparkContext
    jobs = sp.rest(sc.uiWebUrl, sc.applicationId, "/jobs")
    sql = sp.rest(sc.uiWebUrl, sc.applicationId,
                  "/sql?details=true&planDescription=true&length=1000")
    runs = sum(1 for e in sql if changelog_dir in e.get("planDescription", ""))
    return {"cli.jobs": len(jobs), "cli.snapshot_dag_runs": runs}


# ---------------------------------------------------------------- streaming

def _seen(offset) -> int:
    """Region files consumed as of a changelog stream offset."""
    return str(offset or "").count(".parquet")


def trigger_metrics(query, state_dir: str, delta_path: str, state_rows: int) -> dict:
    """What one maintenance trigger read and wrote."""
    progress = query.lastProgress or {}
    source = (progress.get("sources") or [{}])[0]
    size, files = dir_stats(state_dir)
    return {
        "sources.pyds.rows_read": progress.get("numInputRows", 0),
        "sources.pyds.regions_read": _seen(source.get("endOffset"))
        - _seen(source.get("startOffset")),
        "streaming.state_rows": state_rows,
        "streaming.state_files": files,
        "streaming.state_bytes_written_per_delta_byte": size / os.path.getsize(delta_path),
    }


def stream_metrics(spark, spans: list[dict]) -> dict:
    """Per-trigger medians of the traced maintenance spans."""
    sp.wait_for_listener(spark)
    inside = in_ops(spans)
    batches = {s["parent"]: s for s in inside if s["name"] == "streaming.batch"}
    overhead = [(t["end"] - t["start"]) - (batches[t["id"]]["end"] - batches[t["id"]]["start"])
                for t in inside if t["name"] == "streaming.trigger" and t["id"] in batches]
    merges = _counters(spark, inside, "streaming.batch")
    builds: dict[int, float] = {}
    for s in inside:
        if s["layer"] == "operators.snapshot":
            builds[s["parent"]] = builds.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {
        "streaming.batch_s": _med(_durations(inside, "streaming.batch")),
        "streaming.trigger_overhead_s": _med(overhead),
        "operators.snapshot.build_s": _med(builds.values()),
        "operators.snapshot.shuffle_write_bytes": _med(c["shuffle_write_bytes"] for c in merges),
        "operators.snapshot.shuffle_read_bytes": _med(c["shuffle_read_bytes"] for c in merges),
        "operators.snapshot.spill_bytes": _med(c["spill_bytes"] for c in merges),
        "package.import_s": _med(_durations(spans, "package.import")),
        "session.start_s": _med(_durations(spans, "session.start")),
    }


# ---------------------------------------------------------------- llm queries

def llm_metrics(spark, spans: list[dict], order: list[str]) -> dict:
    """Per-pass cache and per-query numbers of the traced mix."""
    sp.wait_for_listener(spark)
    inside = in_ops(spans)
    passes = max(sum(1 for s in spans if s["name"] == "op"), 1)
    m = {
        "cache.shared_stage_s": sum(_durations(inside, "cache.shared_stage")) / passes,
        "cache.shared_stage_calls": len(_durations(inside, "cache.shared_stage")) / passes,
        "cache.shared_stage_builds":
            len(_durations(inside, "cache.shared_stage.build")) / passes,
        "cache.release_s": sum(_durations(inside, "cache.release")) / passes,
    }
    for q in order:
        builds = [s for s in inside if s["name"] == f"queries.{q}.build"]
        execs = [s for s in inside if s["name"] == f"queries.{q}.exec"]
        groups = [s["group"] for s in builds + execs if s["group"]]
        c = sp.spark_counters(spark, groups)
        m[f"queries.{q}.build_s"] = _med(_durations(builds, f"queries.{q}.build"))
        m[f"queries.{q}.exec_s"] = _med(_durations(execs, f"queries.{q}.exec"))
        m[f"queries.{q}.jobs"] = c["jobs"] / passes
        m[f"queries.{q}.stages"] = c["stages"] / passes
        m[f"queries.{q}.shuffle_bytes"] = c["shuffle_write_bytes"] / passes
        m[f"queries.{q}.spill_bytes"] = c["spill_bytes"] / passes
    return m
