"""The benchmark's workloads.  Each drives the program only through its
public entry points and returns a :class:`Result`.

Every workload is one client in a closed loop: the next operation
starts when the previous one has finished and its output has been
checked.  Only operation wall time counts toward ``--seconds``; input
generation, output checks and probes run outside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import check
import gen
from measure import RssSampler, dir_stats, median, reap_all
from traced import LLM_MIX

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
_T0 = time.perf_counter()


@dataclass
class Result:
    op_s: list[float] = field(default_factory=list)
    rss_mb: list[float] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)
    input_rows: int = 0
    stored: list[tuple[int, int]] = field(default_factory=list)  # (bytes, rows)
    tally: check.Tally = field(default_factory=check.Tally)
    layers: dict[str, list[float]] = field(default_factory=dict)
    spans: list[dict] = field(default_factory=list)

    def note(self, metrics: dict) -> None:
        for k, v in metrics.items():
            self.layers.setdefault(k, []).append(v)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        op = median(self.op_s)
        stored_rows = sum(r for _, r in self.stored)
        return {
            "op_s": (op, "s"),
            "input_rows_per_s": (self.input_rows / op, "rows/s"),
            "setup_s": (median(self.setup_s), "s"),
            "peak_rss_mb": (median(self.rss_mb), "MB"),
            "stored_bytes_per_row": (sum(b for b, _ in self.stored) / max(stored_rows, 1),
                                     "B/row"),
        }


def log(msg: str) -> None:
    """Progress line on stderr (standard output carries the result)."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def closed_loop(seconds: float, op, *, min_ops: int = 1,
                max_ops: int | None = None) -> list[float]:
    """Run ``op(i) -> wall seconds`` until the summed wall time reaches
    ``seconds``, but at least ``min_ops`` and at most ``max_ops`` times."""
    times: list[float] = []
    while len(times) < min_ops or (sum(times) < seconds
                                   and (max_ops is None or len(times) < max_ops)):
        times.append(op(len(times)))
        log(f"op {len(times)}: {times[-1]:.3f} s")
    return times


def _span(tracer, name: str, layer: str, **kw):
    return tracer.span(name, layer, **kw) if tracer else nullcontext({})


def _tracer(trace: bool, workload: str, inputs: dict):
    if not trace:
        return None
    from spans import Tracer

    return Tracer(f"{workload}-{inputs['seed']}")


# ---------------------------------------------------------------- program

def start_program(trace: bool, work: str, tracer=None, conf: dict | None = None):
    """Import the package, start the session and register the change-log
    source: the program's fixed cost before its first operation."""
    t0 = time.perf_counter()
    with _span(tracer, "package.import", "package", group=False):
        import hbase_snapshotter_spark  # noqa: F401  (installs py4j_fastpath)
        from pyspark.sql import SparkSession
    with _span(tracer, "session.start", "session", group=False):
        builder = (SparkSession.builder.master(f"local[{CORES}]")
                   .appName("perfbench")
                   .config("spark.sql.adaptive.enabled", "true")
                   .config("spark.ui.enabled", "true" if trace else "false")
                   .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
        for key, value in (conf or {}).items():
            builder = builder.config(key, value)
        spark = builder.getOrCreate()
    with _span(tracer, "sources.pyds.register", "sources.pyds"):
        from hbase_snapshotter_spark.sources import pyds

        pyds.register(spark)
    setup = time.perf_counter() - t0
    log(f"setup {setup:.3f} s")
    return spark, setup


def stop_program(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its Python parent closes stdin
        proc.wait(timeout=60)
    reap_all()


# ---------------------------------------------------------------- snapshot_cli

def _cli_env(wd: str) -> dict:
    """Environment of one CLI process: the package on the path, and the
    Spark event log on (read for ``setup_s``), passed as submit
    arguments so the deployment's own Spark configuration still applies."""
    events = os.path.join(wd, "events")
    os.makedirs(events)
    conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false"}
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=" ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " " + submit)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    return env


def first_job_epoch(events_dir: str) -> float | None:
    """Submission time (epoch s) of the first Spark job in the event log."""
    for name in os.listdir(events_dir):
        with open(os.path.join(events_dir, name)) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    return json.loads(line)["Submission Time"] / 1000.0
    return None


def snapshot_cli(inputs: dict, seconds: float, work: str, trace: bool) -> Result:
    """One operation is one ``python -m hbase_snapshotter_spark conf.json``
    process, each in a fresh working directory (a second CLI process
    cannot overwrite an existing default warehouse location).  ``setup_s``
    is the time from launching that process to its first Spark job."""
    res = Result(input_rows=inputs["cells"])
    conf = os.path.join(work, "conf.json")
    with open(conf, "w") as fh:
        json.dump({"hbase": {"table": inputs["changelog"], "timestamp": inputs["ts"]},
                   "mysql": {"table": inputs["history"]},
                   "hive": {"table": "bench_snapshot"}}, fh)
    cols = {c: gen.DUCK_COMPAT[c] for c in inputs["schema_columns"]}
    types = check.snapshot_types(cols, with_status=True)
    con = check.connect()
    expected = check.expected_snapshot(con, inputs["changelog"] + "/*.parquet",
                                       inputs["ts"], cols, with_status=True)
    sampler = RssSampler()
    tracer = _tracer(trace, "snapshot_cli", inputs)

    def op(i):
        wd = os.path.join(work, f"cli-{i}")
        os.makedirs(wd)
        env = _cli_env(wd)
        spans_out = os.path.join(wd, "trace.json")
        if tracer:
            cmd = [sys.executable, os.path.join(HERE, "cli_trace.py"), conf, spans_out]
        else:
            cmd = [sys.executable, "-m", "hbase_snapshotter_spark", conf]
        with open(os.path.join(wd, "stderr.log"), "w") as err:
            spawn_epoch, start = time.time(), time.perf_counter()
            proc = subprocess.Popen(cmd + ([repr(start)] if tracer else []), cwd=wd,
                                    env=env, stdout=subprocess.DEVNULL, stderr=err)
            sampler.reset(proc.pid)
            rc = proc.wait()
            wall = time.perf_counter() - start
        res.rss_mb.append(sampler.peak_mb())
        reap_all()
        if rc != 0:
            with open(os.path.join(wd, "stderr.log")) as fh:
                log(f"CLI exited with {rc}:\n" + "".join(fh.readlines()[-30:]))
        first_job = first_job_epoch(os.path.join(wd, "events"))
        if first_job is not None:
            res.setup_s.append(first_job - spawn_epoch)
        table = os.path.join(wd, "spark-warehouse", "bench_snapshot")
        got = check.actual(con, table + "/*.parquet", types) if rc == 0 else (-1, f"rc={rc}")
        res.tally.record(rc == 0 and first_job is not None, expected, got, what="cli")
        res.stored.append((dir_stats(table)[0], got[0]))
        if tracer and rc == 0:
            with open(spans_out) as fh:
                doc = json.load(fh)
            _merge_cli_trace(tracer, res, doc, table, con, inputs)
        shutil.rmtree(wd, ignore_errors=True)
        return wall

    res.op_s = closed_loop(seconds, op)
    sampler.stop()
    if tracer:
        res.spans = tracer.spans
    return res


def _merge_cli_trace(tracer, res, doc, table, con, inputs) -> None:
    """Fold one traced CLI process's spans and metrics into the run.  Its
    ``op`` span ends with ``main()``: the probes that follow in the same
    process, and the process exit, are not part of ``trace.op_s``."""
    ids: dict[int, int] = {}
    added = []
    for s in doc["spans"]:
        added.append((tracer.add(s["name"], s["layer"], s["start"], s["end"], None),
                      s["parent"]))
        ids[s["id"]] = added[-1][0]["id"]
    for rec, parent in added:
        rec["parent"] = ids.get(parent)
    m = doc["metrics"]
    m["sources.warehouse.bytes_written"], m["sources.warehouse.files_written"] = \
        dir_stats(table)
    live_sql = check.latest_cells_sql(inputs["changelog"] + "/*.parquet", inputs["ts"],
                                      [gen.STATUS_QUALIFIER] + inputs["schema_columns"])
    live = con.execute(f"SELECT count(*) FROM ({live_sql})").fetchone()[0]
    m["operators.snapshot.live_cell_ratio"] = live / max(m["sources.changelog.rows_read"], 1)
    res.note(m)


# ---------------------------------------------------------------- snapshot_regions

def _regions_conf(inputs: dict) -> str:
    schema = [f"{gen.FAMILY}:{c}:{gen.EXPLICIT_TYPES[c]}" for c in inputs["schema_columns"]]
    return json.dumps({"hbase": {"table": inputs["regions"], "timestamp": inputs["ts"],
                                 "format": "changelog", "schema": schema},
                       "hive": {"table": "bench_regions"}})


def snapshot_regions(inputs: dict, seconds: float, work: str, trace: bool) -> Result:
    """A long-lived session calls ``run_snapshot`` on the ``changelog``
    region source; one operation is one ``run_snapshot``."""
    res = Result(input_rows=inputs["cells"])
    cols = {c: gen.DUCK_EXPLICIT[c] for c in inputs["schema_columns"]}
    types = check.snapshot_types(cols, with_status=False)
    chk = check.Checker()
    regions = inputs["regions"] + "/*.parquet"
    expected = chk.expected_snapshot(regions, inputs["ts"], cols, with_status=False)
    tracer = _tracer(trace, "snapshot_regions", inputs)
    sampler = RssSampler(exclude=[chk.pid])
    spark, setup = start_program(trace, work, tracer)
    res.setup_s.append(setup)
    if tracer:
        import traced

        traced.wrap_pipeline(tracer)
    from hbase_snapshotter_spark.config import SnapshotSettings
    from hbase_snapshotter_spark.pipeline import run_snapshot

    table = os.path.join(work, "warehouse", "bench_regions")

    def op(i):
        sampler.reset()
        with _span(tracer, "op" if i >= 0 else "warmup", "unattributed"):
            start = time.perf_counter()
            run_snapshot(spark, SnapshotSettings.from_json(_regions_conf(inputs)))
            wall = time.perf_counter() - start
        got = chk.actual(table + "/*.parquet", types)
        res.tally.record(True, expected, got, what="run_snapshot")
        if i >= 0:
            res.rss_mb.append(sampler.peak_mb())
            res.stored.append((dir_stats(table)[0], got[0]))
        return wall

    log(f"warm-up op {op(-1):.3f} s")  # the first run in a session pays JIT and codegen
    res.op_s = closed_loop(seconds, op)
    if tracer:
        res.note(traced.snapshot_op_metrics(spark, tracer.spans))
        res.note(traced.snapshot_probes(spark, tracer, _regions_conf(inputs), source="pyds",
                                        work=work))
        live_sql = check.latest_cells_sql(regions, inputs["ts"], inputs["schema_columns"])
        live = chk.count_rows(live_sql)
        nbytes, nfiles = dir_stats(table)
        res.note({"sources.warehouse.bytes_written": nbytes,
                  "sources.warehouse.files_written": nfiles,
                  "operators.snapshot.live_cell_ratio":
                      live / max(res.layers["sources.pyds.rows_read"][0], 1)})
        res.spans = tracer.spans
    sampler.stop()
    chk.close()
    stop_program(spark)
    return res


# ---------------------------------------------------------------- stream_maintain

def stream_maintain(inputs: dict, seconds: float, work: str, trace: bool) -> Result:
    """Start from the seeded base state (the latest version of every cell
    of the key space, written by the generator).  One operation lands
    one delta region file and runs one ``availableNow`` trigger of
    ``maintain_snapshot`` over ``readStream.format("changelog")``, ending
    when the ``CURRENT`` marker advances.  The first delta is an untimed
    warm-up; every later one is timed.  Trigger times still fall from one
    trigger to the next after the warm-up, so a run always times the same
    number of triggers and its median is comparable between runs."""
    res = Result(input_rows=inputs["delta_cells"])
    chk = check.Checker()
    tracer = _tracer(trace, "stream_maintain", inputs)
    sampler = RssSampler(exclude=[chk.pid])
    spark, setup = start_program(trace, work, tracer)
    res.setup_s.append(setup)
    if tracer:
        import traced

        traced.wrap_streaming(tracer)
    from hbase_snapshotter_spark.streaming.snapshot_stream import maintain_snapshot

    feed = os.path.join(work, "regions")
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "checkpoint")
    os.makedirs(feed)
    stream = spark.readStream.format("changelog").option("path", feed).load()
    # the seeded base state, in place as the maintainer's current version
    shutil.copytree(inputs["base_state"], os.path.join(state, "vbase"))
    with open(os.path.join(state, "CURRENT"), "w") as fh:
        fh.write("vbase")
    chk.load_cells("expected", inputs["base_state"] + "/*.parquet")
    deltas = iter(inputs["deltas"])

    def marker() -> str:
        with open(os.path.join(state, "CURRENT")) as fh:
            return fh.read().strip()

    def op(i):
        path = next(deltas)
        before = marker()
        sampler.reset()
        with _span(tracer, "op" if i >= 0 else "warmup", "unattributed"):
            start = time.perf_counter()
            dst = os.path.join(feed, os.path.basename(path))
            shutil.copyfile(path, dst + ".tmp")
            os.replace(dst + ".tmp", dst)
            # the foreachBatch callback runs on another thread: adopt its spans
            with _span(tracer, "streaming.trigger", "streaming", adopt=True):
                query, _ = maintain_snapshot(stream, state, availableNow=True,
                                             checkpointLocation=ckpt)
                query.awaitTermination()
            wall = time.perf_counter() - start
        current = os.path.join(state, marker())
        want = chk.advance_expected("expected", path)
        got = chk.actual_cells(current + "/*.parquet")
        advanced = query.exception() is None and marker() != before
        res.tally.record(advanced, want, got, what=f"maintain {os.path.basename(path)}")
        if i >= 0:
            res.rss_mb.append(sampler.peak_mb())
            res.stored.append((dir_stats(current)[0], got[0]))
            if tracer:
                res.note(traced.trigger_metrics(query, current, path, got[0]))
        return wall

    log(f"warm-up op {op(-1):.3f} s")  # the first trigger in a session
    timed = len(inputs["deltas"]) - 1
    res.op_s = closed_loop(seconds, op, min_ops=timed, max_ops=timed)
    if tracer:
        res.note(traced.stream_metrics(spark, tracer.spans))
        res.note(traced.region_scan_probe(spark, tracer, feed, work))
        res.spans = tracer.spans
    sampler.stop()
    chk.close()
    stop_program(spark)
    return res


# ---------------------------------------------------------------- llm_queries

LLM_TABLES = ("documents", "embeddings", "orders", "customer", "lineitem", "events")


def llm_inputs(sf_dir: str, seed: int) -> dict:
    """The mix reads a fixture directory (``TESTDATA.md``) as it is; the
    seed only fixes the order of the queries in a pass."""
    import random

    import pyarrow.parquet as pq

    order = list(LLM_MIX)
    random.Random(seed).shuffle(order)
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in LLM_TABLES]
    return {"seed": seed, "sf_dir": sf_dir, "order": order,
            "cells": sum(pq.ParquetFile(p).metadata.num_rows for p in paths),
            "input_bytes": sum(os.path.getsize(p) for p in paths)}


def llm_queries(inputs: dict, seconds: float, work: str, trace: bool) -> Result:
    """One operation is one pass over the four heavy LLM lanes in seeded
    order: registry function, noop write, ``release_caches()``.  Runs in
    the documented production mode (exact audit lanes and recall probes
    off).  The outputs are checked once, after the timed passes, against
    the registry's DuckDB oracle (see :func:`_check_llm`)."""
    os.environ["SPARK_GRAFT_EXACT_AUDIT"] = "0"
    os.environ["SPARK_GRAFT_RECALL_PROBE"] = "0"
    res = Result(input_rows=inputs["cells"])
    sf_dir, order = inputs["sf_dir"], inputs["order"]
    tracer = _tracer(trace, "llm_queries", inputs)
    sampler = RssSampler()
    from hbase_snapshotter_spark.queries.registry import SESSION_DEFAULTS

    spark, setup = start_program(trace, work, tracer, dict(
        SESSION_DEFAULTS, **{"spark.sql.session.timeZone": "UTC"}))
    res.setup_s.append(setup)
    if tracer:
        import traced

        traced.wrap_cache(tracer)
    from hbase_snapshotter_spark.cache import release_caches
    from hbase_snapshotter_spark.queries.registry import ORACLES, QUERIES

    def op(i):
        sampler.reset()
        with _span(tracer, "op" if i >= 0 else "warmup", "unattributed"):
            start = time.perf_counter()
            for q in order:
                with _span(tracer, f"queries.{q}.build", "queries"):
                    df = QUERIES[q](spark, sf_dir)
                with _span(tracer, f"queries.{q}.exec", "queries"):
                    df.write.format("noop").mode("overwrite").save()
                with _span(tracer, "cache.release", "cache"):
                    release_caches()
            wall = time.perf_counter() - start
        if i >= 0:
            res.rss_mb.append(sampler.peak_mb())
        return wall

    log(f"warm-up op {op(-1):.3f} s")
    res.op_s = closed_loop(seconds, op)
    res.stored.append((0, 1))
    if tracer:
        res.note(traced.llm_metrics(spark, tracer.spans, order))
        res.spans = tracer.spans
    sampler.stop()
    _check_llm(spark, res, sf_dir, order, QUERIES, ORACLES)
    release_caches()
    stop_program(spark)
    return res


def _check_llm(spark, res, sf_dir, order, queries, oracles) -> None:
    """Compare each query with its oracle on the columns both fill: the
    production mode leaves the exact audit columns NULL, and the oracle
    (written for the audit mode) leaves the production-only estimate
    columns NULL.  The columns left out are logged."""
    import duckdb

    from hbase_snapshotter_spark.testing import compare, register_duckdb_views

    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)
    for q in order:
        df = queries[q](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        rel = con.sql(oracles[q])
        orows = rel.fetchall()

        def empty(cols, data):
            return {c for i, c in enumerate(cols) if all(r[i] is None for r in data)}

        left_out = empty(df.columns, rows) | empty(rel.columns, orows)
        keep = [c for c in df.columns if c not in left_out]
        ok, msg = compare(keep, [tuple(r[df.columns.index(c)] for c in keep) for r in rows],
                          keep, [tuple(r[rel.columns.index(c)] for c in keep) for r in orows])
        log(f"{q}: {'ok' if ok else msg}; columns left out: {sorted(left_out)}")
        res.tally.record(ok, what=q)
        if not ok:
            res.tally.mismatches.append(f"{q}: {msg}")


WORKLOADS = {
    "snapshot_cli": snapshot_cli,
    "snapshot_regions": snapshot_regions,
    "stream_maintain": stream_maintain,
    "llm_queries": llm_queries,
}
