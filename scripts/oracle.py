"""Compare a ``queries()`` entry against its DuckDB ``oracle_sql()`` twin:
same column names, same row count, same values ignoring row order.

Shared by ``scripts/verify_oracle.py`` (the sweep as a script) and
``tests/test_oracle_sweep.py`` (the sweep in the default test tier).
"""

from __future__ import annotations

from typing import Optional

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(rows) -> list[tuple]:
    """Order-insensitive, float-tolerant form of a result set."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(round(v, 9))
            elif hasattr(v, "timestamp"):  # datetime
                vals.append(v.isoformat())
            elif isinstance(v, list):
                vals.append(tuple(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def spark_result(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    return cols, canon([tuple(r[c] for c in cols) for r in df.collect()])


def oracle_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    raw = [d[0] for d in cur.description]
    cols = sorted(raw)
    idx = [raw.index(c) for c in cols]
    return cols, canon([tuple(r[i] for i in idx) for r in cur.fetchall()])


def mismatch(got: tuple[list[str], list[tuple]],
             want: tuple[list[str], list[tuple]]) -> Optional[str]:
    """Why ``got`` (columns, canon rows) differs from ``want``; None if equal."""
    (cols, rows), (ocols, orows) = got, want
    if cols != ocols:
        return f"columns {cols} != oracle {ocols}"
    if len(rows) != len(orows):
        return f"rows {len(rows)} != oracle {len(orows)}"
    if rows != orows:
        diff = [(g, w) for g, w in zip(rows, orows) if g != w][:3]
        return f"values differ; first diffs: {diff}"
    return None
