"""Correctness checks, run after the timed window against DuckDB.

Every check returns the number of mismatching rows or values (0 =
correct). Spark results come in as Arrow tables; DuckDB compares them
with ``EXCEPT ALL`` both ways, so row order and duplicates count but
nothing else does.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _plain(t: pa.Table) -> pa.Table:
    """Drop the UTC zone Spark puts on timestamps: the generator's
    values are naive UTC."""
    cols = []
    for f, c in zip(t.schema, t.columns):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            c = c.cast(pa.timestamp(f.type.unit))
        cols.append(c)
    return pa.table(cols, names=t.column_names)


def diff_rows(con, got: pa.Table, want_sql: str) -> int:
    """Rows of ``got`` not in the oracle result plus rows of the
    oracle result not in ``got`` (multiset difference). Columns are
    matched by position, so the oracle lists them in ``got``'s order."""
    con.register("_got", _plain(got))
    con.execute(f"CREATE OR REPLACE TEMP TABLE _want AS {want_sql}")
    n = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM _got EXCEPT ALL SELECT * FROM _want))"
        " + (SELECT count(*) FROM (SELECT * FROM _want EXCEPT ALL SELECT * FROM _got))"
    ).fetchone()[0]
    con.unregister("_got")
    return int(n)


def register_drops(con, name: str, drops: list[pd.DataFrame]) -> None:
    """All generated drops as one relation with a ``_drop`` ordinal."""
    frames = [d.assign(_drop=i) for i, d in enumerate(drops)]
    con.register(name, pd.concat(frames, ignore_index=True))


def latest_per_key_sql(drops: str, key: str) -> str:
    """The last version of each key across the drops: what silver
    must hold after every drop has been merged."""
    return (
        f"SELECT * EXCLUDE (_drop, _rn) FROM (SELECT *, row_number() OVER"
        f" (PARTITION BY {key} ORDER BY _drop DESC) AS _rn FROM {drops}) WHERE _rn = 1"
    )
