"""Output checks. Each returns a list of failure messages; an empty list
means the output is correct. The workloads count every operation whose
check fails (or that raises) in ``failed``."""

from __future__ import annotations

import datetime
import decimal
import math
import os


def _cell(v) -> str:
    """Canonical text of one value. Scalars get the normalisation of
    ``normalize_cell`` in the repo's ``tests/conftest.py`` (floats to 6
    decimals, NaN as ``nan``, NULL as empty); this copy also spells out
    lists, dicts and bytes, which that helper leaves to ``str``."""
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, decimal.Decimal):
        return _cell(float(v))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], out


def compare(name: str, got: tuple, want: tuple) -> list[str]:
    """Compare two ``canonical`` results; at most a few diffs reported."""
    g_cols, g_rows = got
    w_cols, w_rows = want
    if g_cols != w_cols:
        return [f"{name}: columns {g_cols} != {w_cols}"]
    if len(g_rows) != len(w_rows):
        return [f"{name}: {len(g_rows)} rows != {len(w_rows)}"]
    diffs = [(a, b) for a, b in zip(g_rows, w_rows) if a != b]
    if diffs:
        return [f"{name}: {len(diffs)} rows differ, first {diffs[0]}"]
    return []


def spark_canonical(df) -> tuple:
    return canonical(df.columns, df.collect())


def duck_canonical(con, sql: str) -> tuple:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canonical(cols, cur.fetchall())


def duck_catalog(catalog_dir: str, tables):
    """An in-memory DuckDB with one view per catalog table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(catalog_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def sink_lines(out_dir: str) -> bytes:
    """All lines of a text sink's part files, sorted, as bytes (the
    reference's ``sort mr-out*``)."""
    lines: list[str] = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                lines.extend(f.read().splitlines())
    return ("\n".join(sorted(lines)) + "\n").encode()


def check_sink(name: str, out_dir: str, want: bytes) -> list[str]:
    got = sink_lines(out_dir)
    if got == want:
        return []
    g, w = got.splitlines(), want.splitlines()
    first = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b),
                 min(len(g), len(w)))
    return [f"{name}: sink output differs from the sequential oracle "
            f"({len(g)} vs {len(w)} lines, first difference at line "
            f"{first})"]
