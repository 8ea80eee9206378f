"""Seeded input generator for the benchmark.

One seed always yields byte-identical files: the change log (cells of
``row_key, family, qualifier, value, cell_ts``), the MySQL-style
schema-history table, the region split, and the stream's base state and
delta sequence.  Everything is built with numpy/pyarrow, never with Spark, so
the program under test only ever receives finished files.

Cell layout: ``n_keys`` row keys x 10 qualifiers x 1..7 versions (mean
4) with cell timestamps spread uniformly over ``SPAN_MS``; about 1 % of
the data cells carry the ``"NULL"`` sentinel.  Files are time ordered:
each file holds one contiguous ``cell_ts`` range, like HBase store files
of a table that is written in time order.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from measure import dir_stats

T0 = 1_704_067_200_000           # 2024-01-01T00:00:00Z, epoch millis
SPAN_MS = 30 * 86_400_000        # base log covers 30 days
DELTA_SPAN_MS = 86_400_000       # each stream delta covers one later day
NULL_FRACTION = 0.01
FAMILY = "d"
STATUS_QUALIFIER = "row_status"

#: (qualifier, MySQL DDL, explicit-schema type).  ``birth`` is a date
#: string but is never decoded as a date: the lenient DateType decode
#: raises NOT_ITERABLE on PySpark 4.1 (a program defect), so the CLI
#: runs in ``compat`` type mode (DATE -> string, as the reference does)
#: and the explicit schema declares it ``string``.
COLUMNS = [
    ("id", "int(11)", "integer"),
    ("qty", "int(10) unsigned", "long"),
    ("amount", "decimal(10,2)", "decimal(10,2)"),
    ("counter", "bigint(20) unsigned", "decimal(20,0)"),
    ("name", "varchar(64)", "string"),
    ("birth", "date", "string"),
    ("updated_at", "timestamp", "timestamp"),
    ("note", "varchar(255)", "string"),
    ("score", "decimal(12,4)", "decimal(12,4)"),
]
QUALIFIERS = [STATUS_QUALIFIER] + [c[0] for c in COLUMNS]

#: Schema-history versions: (fraction of the log span, columns present).
#: The CLI snapshot ts sits between versions 2 and 3, so it resolves a
#: middle version and the log carries cells of columns the resolved
#: schema does not have yet (``score``).
HISTORY = [
    (-0.05, ["id", "name", "amount", "updated_at"]),
    (0.2, ["id", "name", "amount", "updated_at", "qty", "birth"]),
    (0.4, ["id", "name", "amount", "updated_at", "qty", "birth", "counter", "note"]),
    (0.7, ["id", "name", "amount", "updated_at", "qty", "birth", "counter", "note",
           "score"]),
    (0.9, ["id", "name", "amount", "updated_at", "qty", "birth", "counter", "note",
           "score"]),
]
CLI_TS_FRACTION = 0.55
CLI_HISTORY_VERSION = 2

#: Sizes per workload.  ``files`` is the number of time-ordered files
#: the base log is split into (regions for the region source, state
#: files for the stream).  The stream's first delta is its warm-up.
SIZES = {
    "snapshot_cli": {"n_keys": 62_500, "files": 8},
    "snapshot_regions": {"n_keys": 62_500, "files": 16, "regions_read": 8},
    "stream_maintain": {"n_keys": 25_000, "files": 4, "deltas": 4, "delta_cells": 150_000},
}

_DDL = {c[0]: c[1] for c in COLUMNS}
EXPLICIT_TYPES = {c[0]: c[2] for c in COLUMNS}

#: DuckDB type each column decodes to: the CLI's ``compat`` MySQL
#: mapping, and the explicit (hbase-shape) schema.
DUCK_COMPAT = {"id": "INTEGER", "qty": "BIGINT", "amount": "DOUBLE", "counter": "DOUBLE",
               "name": "VARCHAR", "birth": "VARCHAR", "updated_at": "TIMESTAMP",
               "note": "VARCHAR", "score": "DOUBLE"}
DUCK_EXPLICIT = {c: {"integer": "INTEGER", "long": "BIGINT", "string": "VARCHAR",
                     "timestamp": "TIMESTAMP"}.get(t, t.upper())
                 for c, t in EXPLICIT_TYPES.items()}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _str(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _fixed_point(rng, n: int, int_digits: int, scale: int) -> pa.Array:
    whole = _str(rng.integers(0, 10 ** int_digits, n))
    frac = pc.utf8_lpad(_str(rng.integers(0, 10 ** scale, n)), scale, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _values(rng, qualifier: str, n: int) -> pa.Array:
    """``n`` well-formed stringified cell values for one qualifier."""
    if qualifier == STATUS_QUALIFIER:
        return pa.array(np.array(["I", "U", "D"])[rng.integers(0, 3, n)])
    if qualifier == "id":
        return _str(rng.integers(0, 2**31 - 1, n))
    if qualifier == "qty":
        return _str(rng.integers(0, 2**32, n, dtype=np.uint64))
    if qualifier == "amount":
        return _fixed_point(rng, n, 8, 2)
    if qualifier == "counter":
        return _str(rng.integers(0, 2**64 - 1, n, dtype=np.uint64))
    if qualifier == "name":
        return pc.binary_join_element_wise(
            "user-", _str(rng.integers(0, 10**9, n)), "")
    if qualifier == "birth":
        days = rng.integers(-7300, 18000, n).astype(np.int32)
        return _str(pa.array(days, pa.date32()))
    if qualifier == "updated_at":
        return _str(rng.integers(T0 - SPAN_MS * 12, T0 + SPAN_MS, n))
    if qualifier == "note":
        words = np.array(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
        return pc.binary_join_element_wise(
            pa.array(words[rng.integers(0, len(words), n)]),
            _str(rng.integers(0, 10**12, n)),
            pa.array(words[rng.integers(0, len(words), n)]), " ")
    if qualifier == "score":
        return _fixed_point(rng, n, 8, 4)
    raise ValueError(qualifier)


def cells(rng, key_idx: np.ndarray, qual_idx: np.ndarray, ts: np.ndarray) -> pa.Table:
    """Change-log table for the given (key, qualifier, ts) triples, in
    ``cell_ts`` order (stable, so ties keep generation order)."""
    parts = []
    for q, name in enumerate(QUALIFIERS):
        sel = np.flatnonzero(qual_idx == q)
        vals = _values(rng, name, len(sel))
        if name != STATUS_QUALIFIER:
            nulls = pa.array(rng.random(len(sel)) < NULL_FRACTION)
            vals = pc.if_else(nulls, "NULL", vals)
        parts.append((sel, vals))
    order = np.concatenate([sel for sel, _ in parts])
    values = pa.concat_arrays([v for _, v in parts])
    keys = pc.binary_join_element_wise(
        "r", pc.utf8_lpad(_str(key_idx[order]), 7, "0"), "")
    table = pa.table({
        "row_key": keys,
        "family": pa.DictionaryArray.from_arrays(
            np.zeros(len(order), np.int8), [FAMILY]).cast(pa.string()),
        "qualifier": pa.DictionaryArray.from_arrays(
            qual_idx[order].astype(np.int8), QUALIFIERS).cast(pa.string()),
        "value": values,
        "cell_ts": pa.array(ts[order], pa.int64()),
    })
    return table.take(pa.array(np.argsort(ts[order], kind="stable")))


def base_log(seed: int, n_keys: int) -> pa.Table:
    rng = _rng(seed, 1)
    versions = rng.integers(1, 8, n_keys * len(QUALIFIERS))
    cell = np.repeat(np.arange(n_keys * len(QUALIFIERS)), versions)
    ts = T0 + rng.integers(0, SPAN_MS, len(cell))
    return cells(rng, cell // len(QUALIFIERS), cell % len(QUALIFIERS), ts)


def base_state(seed: int, n_keys: int) -> pa.Table:
    """The maintained state of a seeded base log: one (the latest) version
    of every cell, ordered by ``row_key, qualifier`` as
    ``streaming.snapshot_stream`` keeps it."""
    rng = _rng(seed, 2)
    cell = np.arange(n_keys * len(QUALIFIERS))
    ts = T0 + rng.integers(0, SPAN_MS, len(cell))
    return cells(rng, cell // len(QUALIFIERS), cell % len(QUALIFIERS), ts).sort_by(
        [("row_key", "ascending"), ("qualifier", "ascending")])


def delta_log(seed: int, n_keys: int, index: int, n_cells: int) -> pa.Table:
    """Delta ``index`` of the stream: ``n_cells`` writes over the same
    key space, all later than the base log and every earlier delta."""
    rng = _rng(seed, 100 + index)
    lo = T0 + SPAN_MS + index * DELTA_SPAN_MS
    return cells(rng, rng.integers(0, n_keys, n_cells),
                 rng.integers(0, len(QUALIFIERS), n_cells),
                 lo + rng.integers(0, DELTA_SPAN_MS, n_cells))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _split(table: pa.Table, out_dir: str, prefix: str, n: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, idx in enumerate(np.array_split(np.arange(table.num_rows), n)):
        path = os.path.join(out_dir, f"{prefix}{i:03d}.parquet")
        _write(table.slice(int(idx[0]), len(idx)), path)
        paths.append(path)
    return paths


def schema_dump(columns: list[str], ddl_overrides: dict | None = None) -> str:
    ddl = dict(_DDL, **(ddl_overrides or {}))
    return json.dumps({"bench_table": {
        "columnIndexToNameMap": {str(i): c for i, c in enumerate(columns)},
        "columnsSchema": {c: {"columnType": ddl[c]} for c in columns},
    }}, sort_keys=True)


def history_table() -> pa.Table:
    rows = []
    for i, (frac, cols) in enumerate(HISTORY):
        ts = T0 + int(frac * SPAN_MS)
        # the last version widens `note`: a type change, not only adds
        dump = schema_dump(cols, {"note": "text"} if i == len(HISTORY) - 1 else None)
        rows.append(("initial-snapshot" if i == 0 else str(ts), ts, dump))
    return pa.table({
        "change_key": [r[0] for r in rows],
        "cell_ts": pa.array([r[1] for r in rows], pa.int64()),
        "schema_json": [r[2] for r in rows],
    })


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out`` and
    return their description (file lists, ts, counts, bytes)."""
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    if workload == "stream_maintain":
        log = base_state(seed, size["n_keys"])
    else:
        log = base_log(seed, size["n_keys"])
    info = {"workload": workload, "seed": seed, "cells": log.num_rows,
            "keys": size["n_keys"], "qualifiers": len(QUALIFIERS),
            "mean_versions": round(log.num_rows / (size["n_keys"] * len(QUALIFIERS)), 3),
            "files": size["files"]}
    if workload == "snapshot_cli":
        info["changelog"] = os.path.join(out, "changelog")
        _split(log, info["changelog"], "part-", size["files"])
        info["history"] = os.path.join(out, "history.parquet")
        _write(history_table(), info["history"])
        info["ts"] = T0 + int(CLI_TS_FRACTION * SPAN_MS)
        info["schema_columns"] = HISTORY[CLI_HISTORY_VERSION][1]
    elif workload == "snapshot_regions":
        info["regions"] = os.path.join(out, "regions")
        paths = _split(log, info["regions"], "region-", size["files"])
        last = pq.read_table(paths[size["regions_read"] - 1], columns=["cell_ts"])
        info["ts"] = int(pc.max(last["cell_ts"]).as_py())
        info["schema_columns"] = [c[0] for c in COLUMNS]
    elif workload == "stream_maintain":
        info["base_state"] = os.path.join(out, "base_state")
        _split(log, info["base_state"], "part-", size["files"])
        os.makedirs(os.path.join(out, "deltas"))
        info["deltas"] = []
        for i in range(size["deltas"]):
            path = os.path.join(out, "deltas", f"delta-{i:03d}.parquet")
            _write(delta_log(seed, size["n_keys"], i, size["delta_cells"]), path)
            info["deltas"].append(path)
        info["delta_cells"] = size["delta_cells"]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    info["input_bytes"] = dir_stats(out, suffix="")[0]
    return info


def cached_inputs(workload: str, seed: int, root: str) -> dict:
    """Inputs of (workload, seed) under ``root``, generated once; other
    seeds' inputs of the same workload are removed to bound disk use."""
    base = os.path.join(root, workload)
    size = "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload].items()))
    out = os.path.join(base, f"seed-{seed}-{size}")
    meta = os.path.join(out, "inputs.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return json.load(fh)
    if os.path.isdir(base):
        for name in os.listdir(base):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    info = generate(workload, seed, tmp)
    os.replace(tmp, out)
    info = json.loads(json.dumps(info).replace(tmp, out))
    with open(meta, "w") as fh:
        json.dump(info, fh, indent=1, sort_keys=True)
    return info
