"""Output checks against the registry's DuckDB oracles.

Runs outside the timed region. Each oracle runs once per generated input
dir and is cached in `oracle.duckdb` beside the inputs (DuckDB's own
file format keeps HUGEINT/DECIMAL exact). A Spark output is compared to
its oracle as a multiset: both sides projected on the oracle's column
names and cast to the oracle's types, then `EXCEPT ALL` both ways, which
is the order-insensitive exact comparison `tools/check_oracle.py` makes.
"""

from __future__ import annotations

import os

import duckdb


class Oracles:
    def __init__(self, sf_dir: str, tables: list[str], threads: int) -> None:
        self.con = duckdb.connect(os.path.join(sf_dir, "oracle.duckdb"))
        self.con.execute(f"SET threads = {threads}")
        self.con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            self.con.execute(
                f"CREATE OR REPLACE TEMP VIEW {t} AS "
                f"SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )

    def table(self, name: str, sql: str) -> str:
        """Name of the cached oracle result table for query `name`."""
        tab = f"oracle_{name}"
        have = self.con.execute(
            "SELECT count(*) FROM duckdb_tables() WHERE table_name = ? AND NOT temporary",
            [tab],
        ).fetchone()[0]
        if not have:
            self.con.execute(f"CREATE TABLE {tab} AS SELECT * FROM ({sql})")
        return tab

    def compare(self, name: str, sql: str, out_dir: str, project: str = "*",
                hive: bool = False, keep: tuple[str, list[str]] | None = None) -> str | None:
        """None if the parquet output under `out_dir` equals the oracle,
        else a one-line reason. `project` maps the output onto the
        oracle's columns (e.g. struct fields). `keep` = (column, files)
        narrows the oracle to the rows whose column value occurs in those
        parquet files, for an output that covers only part of the input."""
        tab = self.table(name, sql)
        cols = self.con.execute(f"DESCRIBE {tab}").fetchall()
        if keep is not None:
            col, files = keep
            tab = (f'(SELECT * FROM {tab} WHERE "{col}" IN '
                   f'(SELECT "{col}" FROM read_parquet({files!r})))')
        src = (
            f"(SELECT {project} FROM read_parquet('{out_dir}/**/*.parquet', "
            f"hive_partitioning = {str(hive).lower()}))"
        )
        sel = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t, *_ in cols)
        names = ", ".join(f'"{c}"' for c, *_ in cols)
        try:
            got = f"(SELECT {sel} FROM {src})"
            extra, missing, n_got, n_want = self.con.execute(
                f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL SELECT {names} FROM {tab})),"
                f" (SELECT count(*) FROM (SELECT {names} FROM {tab} EXCEPT ALL {got})),"
                f" (SELECT count(*) FROM {src}), (SELECT count(*) FROM {tab})"
            ).fetchone()
        except duckdb.Error as e:
            return f"{name}: comparison error: {str(e).splitlines()[0][:200]}"
        if extra or missing:
            return (f"{name}: {n_got} rows vs oracle {n_want}; "
                    f"{extra} unexpected, {missing} missing")
        return None

    def close(self) -> None:
        self.con.close()
