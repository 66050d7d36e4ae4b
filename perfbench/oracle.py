"""Answer check: every reply against DuckDB over the same files.

DuckDB reads the parquet tables and the CSV copy the server reads, and
runs each request's oracle SQL once; replies compare as row multisets
(the generated SQL pins any LIMIT with a total order). Floats compare
at six decimals: the generated sums are exact DECIMALs cast to DOUBLE,
so both engines produce the same double.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb

from data import LINEITEM_SCHEMA, TABLES, big_csv_dir

_DUCK_TYPES = {"int64": "BIGINT", "int32": "INTEGER", "double": "DOUBLE",
               "string": "VARCHAR", "date32[day]": "DATE"}


def _cell(v: object) -> object:
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 6)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def normalize(rows: list) -> list[tuple]:
    return sorted((tuple(_cell(c) for c in r) for r in rows), key=repr)


class Oracle:
    """One in-process DuckDB connection over the benchmark's data."""

    def __init__(self, data_dir: str, threads: int = 4) -> None:
        self.con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB"})
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
        self._big_csv = big_csv_dir(data_dir)
        self._answers: dict[str, list[tuple]] = {}

    def _load_big(self) -> None:
        cols = ", ".join([f"'{f.name}': '{_DUCK_TYPES[str(f.type)]}'" for f in LINEITEM_SCHEMA]
                         + ["'l_comment': 'VARCHAR'"])
        self.con.execute(
            "CREATE TABLE lineitem_big AS SELECT * FROM read_csv("
            f"'{self._big_csv}/*.csv', header=true, columns={{{cols}}})")
        self._big_csv = None

    def answer(self, sql: str) -> list[tuple]:
        got = self._answers.get(sql)
        if got is None:
            if self._big_csv is not None and "lineitem_big" in sql:
                self._load_big()
            got = self._answers[sql] = normalize(self.con.execute(sql).fetchall())
        return got

    def close(self) -> None:
        self.con.close()
