"""Output correctness checks: a DuckDB replay of the generated change
log, compared with what the program wrote.

Both sides are reduced to a row count and an order-insensitive digest
of normalized rows (columns in name order, every value rendered as
text, NULL as ``NULL``), in the style of
``hbase_snapshotter_spark.testing.fingerprint``.  The replay follows the
snapshot semantics independently of the Spark code: latest version
``<= ts`` per cell (ties broken by the larger value), pivot, then the
``"NULL"``-sentinel decode.
"""

from __future__ import annotations

import multiprocessing
import os

import duckdb

import gen

KEY_COLUMN = "k_hbase_row_key"
STATUS_COLUMN = "k_replicator_row_status"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    return con


def _files(paths) -> str:
    paths = [paths] if isinstance(paths, str) else list(paths)
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def _norm(col: str, duck_type: str) -> str:
    c = f'"{col}"'
    if duck_type == "TIMESTAMP":
        text = f"CAST(epoch_ms(CAST({c} AS TIMESTAMP)) AS VARCHAR)"
    else:
        text = f"CAST(CAST({c} AS {duck_type}) AS VARCHAR)"
    return f"coalesce({text}, 'NULL')"


def _digest(con, relation: str, types: dict[str, str]) -> tuple[int, str]:
    line = " || '|' || ".join(_norm(c, types[c]) for c in sorted(types))
    rows, digest = con.execute(f"""
        SELECT count(*), coalesce(md5(string_agg(h, '' ORDER BY h)), '')
        FROM (SELECT md5({line}) AS h FROM ({relation}))""").fetchone()
    return int(rows), digest


def snapshot_types(columns: dict[str, str], *, with_status: bool) -> dict[str, str]:
    """Output column -> DuckDB type, for data ``columns`` (name -> type)."""
    types = {KEY_COLUMN: "VARCHAR"}
    if with_status:
        types[STATUS_COLUMN] = "VARCHAR"
    types.update(columns)
    return types


def _decode(qualifier: str, duck_type: str) -> str:
    raw = f"max(CASE WHEN qualifier = '{qualifier}' THEN value END)"
    non_null = f"CASE WHEN upper({raw}) = 'NULL' THEN NULL ELSE {raw} END"
    if duck_type == "TIMESTAMP":
        return f"epoch_ms(TRY_CAST({non_null} AS BIGINT))"
    return f"TRY_CAST({non_null} AS {duck_type})"


def latest_cells_sql(paths, ts: int | None = None, qualifiers=None) -> str:
    """Latest version per (row_key, family, qualifier), ``cell_ts <= ts``."""
    where = ["TRUE"]
    if ts is not None:
        where.append(f"cell_ts <= {int(ts)}")
    if qualifiers is not None:
        where.append(f"family = '{gen.FAMILY}' AND qualifier IN ("
                     + ", ".join(f"'{q}'" for q in qualifiers) + ")")
    return f"""
        SELECT row_key, family, qualifier, value, cell_ts
        FROM read_parquet({_files(paths)})
        WHERE {' AND '.join(where)}
        QUALIFY row_number() OVER (PARTITION BY row_key, family, qualifier
                                   ORDER BY cell_ts DESC, value DESC) = 1"""


def snapshot_sql(paths, ts: int, columns: dict[str, str], *, with_status: bool) -> str:
    """The typed snapshot at ``ts`` over ``columns`` (name -> DuckDB type,
    in schema order), replayed from the change-log files."""
    quals = ([gen.STATUS_QUALIFIER] if with_status else []) + list(columns)
    select = [f"row_key AS {KEY_COLUMN}"]
    if with_status:
        select.append(f"max(CASE WHEN qualifier = '{gen.STATUS_QUALIFIER}' "
                      f"THEN value END) AS {STATUS_COLUMN}")
    select += [f'{_decode(c, t)} AS "{c}"' for c, t in columns.items()]
    return (f"SELECT {', '.join(select)} FROM ({latest_cells_sql(paths, ts, quals)}) "
            "GROUP BY row_key")


def expected_snapshot(con, paths, ts: int, columns: dict[str, str], *,
                      with_status: bool) -> tuple[int, str]:
    """(rows, digest) of :func:`snapshot_sql`."""
    return _digest(con, snapshot_sql(paths, ts, columns, with_status=with_status),
                   snapshot_types(columns, with_status=with_status))


def advance_expected(con, table: str, delta_path: str) -> tuple[int, str]:
    """Merge one delta file into the expected latest-cell state held in
    DuckDB table ``table``; return the new state's (rows, digest)."""
    con.execute(f"""
        CREATE OR REPLACE TABLE {table} AS
        SELECT row_key, family, qualifier, value, cell_ts FROM (
            SELECT * FROM {table}
            UNION ALL
            SELECT row_key, family, qualifier, value, cell_ts
            FROM read_parquet('{delta_path}'))
        QUALIFY row_number() OVER (PARTITION BY row_key, family, qualifier
                                   ORDER BY cell_ts DESC, value DESC) = 1""")
    return _digest(con, f"SELECT * FROM {table}", _cell_types())


def _cell_types() -> dict[str, str]:
    return {"row_key": "VARCHAR", "family": "VARCHAR", "qualifier": "VARCHAR",
            "value": "VARCHAR", "cell_ts": "BIGINT"}


def actual(con, parquet_glob: str, types: dict[str, str]) -> tuple[int, str]:
    """(rows, digest) of a written Parquet table, or (-1, error)."""
    cols = ", ".join(f'"{c}"' for c in types)
    try:
        return _digest(con, f"SELECT {cols} FROM read_parquet('{parquet_glob}')", types)
    except duckdb.Error as exc:
        return -1, f"unreadable output: {exc}"


def actual_cells(con, parquet_glob: str) -> tuple[int, str]:
    return actual(con, parquet_glob, _cell_types())


def load_cells(con, table: str, parquet_glob: str) -> None:
    """Hold the cells of ``parquet_glob`` in DuckDB table ``table``."""
    con.execute(f"CREATE OR REPLACE TABLE {table} AS "
                f"SELECT * FROM read_parquet('{parquet_glob}')")


def count_rows(con, relation: str) -> int:
    return int(con.execute(f"SELECT count(*) FROM ({relation})").fetchone()[0])


def _serve(pipe) -> None:
    con = connect()
    while (msg := pipe.recv()) is not None:
        name, args, kwargs = msg
        try:
            pipe.send((True, globals()[name](con, *args, **kwargs)))
        except Exception as exc:  # noqa: BLE001  (reported to the caller)
            pipe.send((False, f"{type(exc).__name__}: {exc}"))


class Checker:
    """Runs this module's checks, ``checker.<name>(...)`` for
    ``<name>(con, ...)``, on a DuckDB connection in a child process, so
    the checker's memory is not counted as the program's."""

    def __init__(self) -> None:
        ctx = multiprocessing.get_context("fork")
        self._pipe, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child,), daemon=True)
        self._proc.start()
        self.pid = self._proc.pid

    def __getattr__(self, name: str):
        def call(*args, **kwargs):
            self._pipe.send((name, args, kwargs))
            ok, value = self._pipe.recv()
            if not ok:
                raise RuntimeError(f"check.{name}: {value}")
            return value

        return call

    def close(self) -> None:
        self._pipe.send(None)
        self._proc.join()


class Tally:
    """Attempted/failed operation counts; an operation whose output
    does not match the replay counts as failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def record(self, ok: bool, expected=None, got=None, what: str = "") -> bool:
        self.attempted += 1
        if expected is not None and got != expected:
            ok = False
            self.mismatches.append(f"{what}: expected {expected}, got {got}")
        if not ok:
            self.failed += 1
        return ok

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
