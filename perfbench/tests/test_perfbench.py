"""Tests of the benchmark itself (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

SMALL = {"snapshot_cli": {"n_keys": 40, "files": 3},
         "snapshot_regions": {"n_keys": 40, "files": 4, "regions_read": 2},
         "stream_maintain": {"n_keys": 40, "files": 3, "deltas": 3, "delta_cells": 50}}


@pytest.fixture(autouse=True)
def small_sizes(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", SMALL)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            if n != "inputs.json":
                with open(path, "rb") as fh:
                    out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_bytes_and_fingerprint(tmp_path, workload):
    a = gen.generate(workload, 11, str(tmp_path / "a"))
    b = gen.generate(workload, 11, str(tmp_path / "b"))
    c = gen.generate(workload, 12, str(tmp_path / "c"))
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert a["cells"] == b["cells"] and a["input_bytes"] == b["input_bytes"]
    if workload == "stream_maintain":
        return
    con = check.connect()

    def expected(info, root):
        files = os.path.join(info.get("changelog") or info["regions"], "*.parquet")
        cols = {c: gen.DUCK_COMPAT[c] for c in info["schema_columns"]}
        return check.expected_snapshot(con, files, info["ts"], cols,
                                       with_status=workload == "snapshot_cli")

    assert expected(a, "a") == expected(b, "b")
    assert expected(a, "a")[0] > 0


def test_region_split_is_time_ordered_and_ts_prunes_half(tmp_path):
    info = gen.generate("snapshot_regions", 5, str(tmp_path))
    ranges = []
    for name in sorted(os.listdir(info["regions"])):
        ts = pq.read_table(os.path.join(info["regions"], name))["cell_ts"]
        ranges.append((pc.min(ts).as_py(), pc.max(ts).as_py()))
    assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:]))
    assert sum(1 for lo, _ in ranges if lo > info["ts"]) == 2


def _span(i, parent, start, end, layer="x"):
    return {"id": i, "name": "op" if parent is None else f"s{i}", "layer": layer,
            "parent": parent, "start": start, "end": end}


def test_self_time_arithmetic():
    tree = [
        _span(1, None, 0.0, 10.0, "op"),
        _span(2, 1, 1.0, 4.0, "a"),        # child 3 s, holds a 1 s grandchild
        _span(3, 2, 2.0, 3.0, "b"),
        _span(4, 1, 3.5, 6.0, "c"),        # overlaps child 2 by 0.5 s
        _span(5, 1, 9.0, 12.0, "d"),       # runs past the parent's end
    ]
    selfs = spans.self_times(tree)
    # op covered by children over [1, 6] and [9, 10] -> 6 s covered
    assert selfs[1] == pytest.approx(4.0)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[3] == pytest.approx(1.0)
    assert selfs[4] == pytest.approx(2.5)
    assert selfs[5] == pytest.approx(3.0)
    layers = spans.layer_self_times(tree)
    assert layers == pytest.approx({"op": 4.0, "a": 2.0, "b": 1.0, "c": 2.5, "d": 3.0})
    # children that neither overlap nor outlive their parent: the self
    # times of the tree add up to exactly the op's duration
    nested = [_span(1, None, 0.0, 10.0, "op"), _span(2, 1, 1.0, 4.0, "a"),
              _span(3, 2, 2.0, 3.0, "b"), _span(4, 1, 5.0, 6.0, "c")]
    assert sum(spans.self_times(nested).values()) == pytest.approx(10.0)


def test_corrupted_output_counts_as_failure(tmp_path):
    info = gen.generate("snapshot_regions", 3, str(tmp_path / "in"))
    con = check.connect()
    cols = {c: gen.DUCK_EXPLICIT[c] for c in info["schema_columns"]}
    types = check.snapshot_types(cols, with_status=False)
    files = os.path.join(info["regions"], "*.parquet")
    want = check.expected_snapshot(con, files, info["ts"], cols, with_status=False)

    # a faithful output: the replay itself, written as Parquet
    out = tmp_path / "good"
    out.mkdir()
    relation = check.snapshot_sql(files, info["ts"], cols, with_status=False)
    con.execute(f"COPY ({relation}) TO '{out}/part-0.parquet' (FORMAT parquet)")
    tally = check.Tally()
    tally.record(True, want, check.actual(con, f"{out}/*.parquet", types), what="good")
    assert (tally.attempted, tally.failed) == (1, 0)

    # the same table with one value changed
    table = pq.read_table(f"{out}/part-0.parquet")
    ids = table["id"].to_pylist()
    i = next(k for k, v in enumerate(ids) if v is not None)
    ids[i] += 1
    bad = tmp_path / "bad"
    bad.mkdir()
    pq.write_table(table.set_column(table.schema.get_field_index("id"), "id",
                                    pa.array(ids, table["id"].type)),
                   f"{bad}/part-0.parquet")
    tally.record(True, want, check.actual(con, f"{bad}/*.parquet", types), what="bad")
    # and a missing output
    tally.record(True, want, check.actual(con, f"{tmp_path}/none/*.parquet", types),
                 what="missing")
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.failed_ratio == pytest.approx(2 / 3)


def test_per_layer_metrics_match_benchmark_json():
    import traced

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        listed = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    assert listed == traced.PER_LAYER
