"""Order-insensitive comparison of query outputs against DuckDB oracles.

Rows are compared as multisets after the same normalization the repo's
correctness gate applies: column names lower-cased, floats rounded to 9
decimals, timestamps and dates as ISO strings.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math


def _cell(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 9)
        return 0.0 if r == 0 else r
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canonical(rows: list[dict]) -> tuple[tuple[str, ...], list[tuple]]:
    """(sorted lower-case column names, sorted normalized row tuples)."""
    if not rows:
        return (), []
    names = sorted(rows[0])
    lower = tuple(n.lower() for n in names)
    out = [tuple(_cell(r[n]) for n in names) for r in rows]
    out.sort(key=repr)
    return lower, out


def canonical_arrow(table) -> tuple[tuple[str, ...], list[tuple]]:
    cols, rows = canonical(table.to_pylist())
    if not cols:  # empty result: keep the schema for the name check
        cols = tuple(sorted(n.lower() for n in table.column_names))
    return cols, rows


def expected_outputs(data_dir: str, tables: list[str], sql: dict[str, str]) -> dict:
    """Run each oracle SQL on DuckDB over the parquet tables in data_dir."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {
            name: canonical_arrow(con.execute(q).fetch_arrow_table())
            for name, q in sql.items()
        }
    finally:
        con.close()


def diff(expected, got) -> str | None:
    """None when equal, else a one-line description of the difference."""
    exp_cols, exp_rows = expected
    got_cols, got_rows = got
    if exp_cols != got_cols:
        return f"columns {got_cols} != oracle {exp_cols}"
    if len(exp_rows) != len(got_rows):
        return f"{len(got_rows)} rows != oracle {len(exp_rows)}"
    for e, g in zip(exp_rows, got_rows):
        if e != g:
            return f"row {g} != oracle {e}"
    return None
