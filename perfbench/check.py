"""Output checks against DuckDB, run outside every timed region.

Read queries are compared with their registered `ORACLE_SQL` oracle over
the same generated parquet: row count, column names, and an
order-insensitive value comparison (the same normalisation the repository's
scale-parity tool uses). The ETL table is compared with a DuckDB model that
applies the same DML sequence.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, timestamps naive at microseconds, rows sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            col = pdf[c]
            if getattr(col.dt, "tz", None) is not None:
                col = col.dt.tz_localize(None)
            pdf[c] = col.astype("datetime64[us]")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal (floats to rtol 1e-9), else a one-line reason."""
    a, b = norm(got), norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            ok = np.allclose(a[c].astype(float), b[c].astype(float), rtol=1e-9, equal_nan=True)
        else:
            ok = a[c].astype(str).equals(b[c].astype(str))
        if not ok:
            return f"values differ in column {c}"
    return None


class Oracles:
    """DuckDB over one generated input directory; results cached per query
    (the inputs do not change during a read workload)."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str]) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.sql = oracle_sql
        self.results: dict[str, pd.DataFrame] = {}
        self.seconds: dict[str, float] = {}

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        if name not in self.results:
            t0 = time.perf_counter()
            self.results[name] = self.con.execute(self.sql[name]).fetchdf()
            self.seconds[name] = time.perf_counter() - t0
        return same_frame(got, self.results[name])


class EtlModel:
    """The ETL table as DuckDB holds it after the same DML sequence."""

    def __init__(self, base_file: str, columns: list[str], pk: list[str]) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.cols = columns
        self.pk = pk
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM '{base_file}'")
        self.types = dict(self.con.execute(
            "SELECT column_name, data_type FROM information_schema.columns WHERE table_name = 't'"
        ).fetchall())

    def insert_ignore(self, batch_file: str) -> int:
        on = " AND ".join(f"t.{k} = b.{k}" for k in self.pk)
        before = self.rows()
        self.con.execute(
            f"INSERT INTO t SELECT b.* FROM '{batch_file}' b "
            f"WHERE NOT EXISTS (SELECT 1 FROM t WHERE {on})"
        )
        return self.rows() - before

    def append(self, batch_file: str) -> int:
        before = self.rows()
        self.con.execute(f"INSERT INTO t SELECT * FROM '{batch_file}'")
        return self.rows() - before

    def update(self, keys: list[int], sets: dict[str, object]) -> int:
        n = self._count(keys)
        assignments = ", ".join(f"{c} = {_sql_lit(v)}" for c, v in sets.items())
        self.con.execute(f"UPDATE t SET {assignments} WHERE l_orderkey IN ({_in(keys)})")
        return n

    def delete(self, keys: list[int]) -> int:
        n = self._count(keys)
        self.con.execute(f"DELETE FROM t WHERE l_orderkey IN ({_in(keys)})")
        return n

    def dedup(self) -> int:
        before = self.rows()
        self.con.execute("CREATE OR REPLACE TABLE t AS SELECT DISTINCT * FROM t")
        return before - self.rows()

    def rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM t").fetchone()[0]

    def _count(self, keys: list[int]) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM t WHERE l_orderkey IN ({_in(keys)})"
        ).fetchone()[0]

    def sample_rows(self, n: int, seed: int, out_file: str) -> None:
        """Write ``n`` existing rows (a replayed delivery) to ``out_file``."""
        self.con.execute(
            f"COPY (SELECT * FROM t ORDER BY hash({', '.join(self.pk)}, {seed}) LIMIT {n}) "
            f"TO '{out_file}' (FORMAT PARQUET)"
        )

    def lookup(self, keys: list[int]) -> pd.DataFrame:
        return self.con.execute(
            f"SELECT * FROM t WHERE l_orderkey IN ({_in(keys)})"
        ).fetchdf()

    def aggregate(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql.replace("{table}", "t")).fetchdf()

    def diff_on_disk(self, version_dir: str) -> str | None:
        """Compare the committed parquet files with the model, both ways,
        as multisets of rows."""
        cols = ", ".join(self.cols)
        disk = (f"(SELECT {cols} FROM read_parquet('{version_dir}/**/*.parquet', "
                f"hive_partitioning = true, hive_types_autocast = false))")
        fix = f"(SELECT {', '.join(f'CAST({c} AS {self.types[c]}) AS {c}' for c in self.cols)} FROM {disk})"
        extra = self.con.execute(f"SELECT count(*) FROM ({fix} EXCEPT ALL SELECT {cols} FROM t)").fetchone()[0]
        missing = self.con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM t EXCEPT ALL {fix})").fetchone()[0]
        if extra or missing:
            return f"table differs from model: {extra} extra rows, {missing} missing rows"
        return None

    def compact_bytes(self, out_file: str) -> int:
        """Bytes of the live rows written as one compact parquet file."""
        self.con.execute(f"COPY t TO '{out_file}' (FORMAT PARQUET, COMPRESSION SNAPPY)")
        return os.path.getsize(out_file)


def _in(keys: list[int]) -> str:
    return ", ".join(str(int(k)) for k in keys)


def _sql_lit(v: object) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)
