"""Output checker: every dump a run reports as written is compared with
DuckDB over the same input files.

A dump passes when

* its Parquet rows equal the oracle's rows by an order-insensitive digest
  (same column names, row count and multiset of canonical row strings);
  the oracle is the row's own SQL, or the catalog entry's ``oracle_sql()``;
* it holds exactly ceil(rows / chunksize) files: one when unchunked, and
  none, with the directory marker present, when the result is empty.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_FLOATING = ("FLOAT", "DOUBLE", "REAL", "DECIMAL")


def connect(data_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(col: str, dtype: str) -> str:
    """SQL rendering of one value as text that is equal for equal values
    whatever width or precision class each engine chose for the column:
    integers of any width print alike, fractional numbers print as DOUBLE,
    timestamps as UTC wall-clock time."""
    c = f'"{col}"'
    t = dtype.upper()
    if t.startswith(_FLOATING):
        c = f"CAST({c} AS DOUBLE{'[]' if t.endswith('[]') else ''})"
    elif t.startswith("TIMESTAMP"):
        c = f"CAST({c} AS TIMESTAMP)"
    return f"coalesce(CAST({c} AS VARCHAR), '<null>')"


def digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, order-insensitive hash) of a query."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    if not cols:
        return (), 0, "0"
    row = ", ".join(_canon(c, t) for c, t in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash(concat_ws(chr(31), {row}))), 0) AS VARCHAR) "
        f"FROM ({sql})"
    ).fetchone()
    return tuple(c for c, _ in cols), n, h


def data_key(data_dir: str) -> str:
    """Fingerprint of the input tables' bytes."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def oracle_digest(con, sql: str, cache_dir: str, key: str) -> tuple[tuple[str, ...], int, str]:
    """:func:`digest` of an oracle query, cached on disk by the query, the
    input bytes, this module's source and the DuckDB version: some catalog
    oracles take many seconds, and every run of a workload asks for the
    same ones."""
    with open(__file__, "rb") as fh:
        code = hashlib.sha256(fh.read()).hexdigest()
    name = hashlib.sha256(f"{key}\0{code}\0{duckdb.__version__}\0{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"{name}.json")
    try:
        with open(path) as fh:
            cols, n, h = json.load(fh)
        return tuple(cols), n, h
    except FileNotFoundError:
        pass
    d = digest(con, sql)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(d, fh)
    os.replace(path + ".tmp", path)
    return d


def data_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if not f.startswith(("_", "."))]
    return sorted(out)


def expected_files(rows: int, chunksize: int | None) -> int:
    if rows == 0:
        return 0
    return math.ceil(rows / chunksize) if chunksize else 1


def check_dump(con, dump_dir: str, chunksize: int | None, want, files=None) -> str | None:
    """None if the dump at ``dump_dir`` matches the oracle ``want`` (a
    :func:`digest`), else what is wrong. ``chunksize=None`` skips the
    file-count check; ``files`` overrides the listing of ``dump_dir``."""
    if not os.path.isdir(dump_dir):
        return "missing output directory"
    files = data_files(dump_dir) if files is None else [f for f in files if os.path.exists(f)]
    if chunksize is not None and len(files) != expected_files(want[1], chunksize):
        return f"{len(files)} files, want {expected_files(want[1], chunksize)} for {want[1]} rows"
    if not files:
        return None if want[1] == 0 else f"no files for {want[1]} rows"
    listing = ", ".join(f"'{f}'" for f in files)
    got = digest(con, f"SELECT * FROM read_parquet([{listing}], hive_partitioning = false)")
    if got[0] != want[0]:
        return f"columns {list(got[0])}, want {list(want[0])}"
    if got[1] != want[1]:
        return f"{got[1]} rows, want {want[1]}"
    if got[2] != want[2]:
        return "row values differ from the oracle"
    return None
