"""Result check against each query's DuckDB oracle.

Same comparison as ``scripts/driver_sim.py``: column names compared as
sorted sets, rows as an order-insensitive multiset of normalised values
(floats via ``repr``, Decimal as float, datetimes as ISO strings). A
query without an oracle must return at least one row.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
from collections import Counter
from pathlib import Path

import duckdb


def norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    return Counter(tuple(norm(r[j]) for j in order) for r in rows)


class Oracle:
    """DuckDB views over the same parquet fixtures the queries read."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]) -> None:
        self._con = duckdb.connect()
        for t in tables:
            path = Path(sf_dir) / f"{t}.parquet"
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def _expected(self, sql: str) -> tuple[list[str], Counter]:
        cur = self._con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, _multiset(cols, cur.fetchall())

    def check(self, df, sql: str | None) -> str | None:
        """None when ``df`` matches, else a one-line reason."""
        if sql is None:
            n = df.count()
            return None if n > 0 else "no rows"
        o_cols, o_m = self._expected(sql)
        s_cols = df.columns
        if sorted(s_cols) != sorted(o_cols):
            return f"columns spark={sorted(s_cols)} oracle={sorted(o_cols)}"
        s_m = _multiset(s_cols, df.collect())
        if s_m != o_m:
            only_s = list((s_m - o_m).items())[:1]
            only_o = list((o_m - s_m).items())[:1]
            return f"values spark-only={only_s} oracle-only={only_o}"
        return None

    def close(self) -> None:
        self._con.close()
