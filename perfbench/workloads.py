"""The three workloads: operation mixes over the engine's public entry points.

A workload runs in passes. Read workloads build every query of their mix
with `QUERIES[name](spark, dir)` and execute it into the `noop` sink; the
ETL workload commits DML through `operators.io_sinks` and reads the table
back after each commit. `Runner` (run.py) times each call and owns the job
groups, spans and status-store reads; checks run outside the timed calls.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from check import EtlModel, Oracles, same_frame

MARKET_BARS = [
    "flagship_eod_pipeline", "bars_5m", "bars_5m_gapfill", "asof_enrichment",
    "dedup_keep_first_last", "tick_imbalance_bars", "greeks", "pricing_summary",
    "streaming_latest_state",
]
CORPUS_DEDUP = [
    "minhash_lsh_dups", "simhash_near_dups", "semdedup_keep_list",
    "embedding_ivf_topk", "exact_dedup", "multimodal_jpeg_features",
]


class QueryMix:
    """A read workload: every pass builds and executes each query once, in
    an order the seed picks per pass."""

    def __init__(self, names: list[str], data_kw: dict, pass_seconds: float) -> None:
        self.names = names
        self.data_kw = data_kw
        self.pass_seconds = pass_seconds

    def setup(self, ctx) -> None:
        from financedatabase_spark.plans.registry import ORACLE_SQL, QUERIES

        self.queries = QUERIES
        self.oracles = Oracles(ctx.data_dir, ORACLE_SQL)
        self.last: dict[str, tuple[int, object]] = {}

    def run_pass(self, ctx, runner, p: int) -> None:
        for name in ctx.rng.permutation(self.names):
            name = str(name)
            op = runner.op(
                name, "read",
                build=lambda n=name: self.queries[n](ctx.spark, ctx.data_dir),
                execute=lambda df: df.write.format("noop").mode("overwrite").save(),
            )
            if op.ok:
                self.last[name] = (op.idx, op.built)

    def finish(self, ctx, runner) -> None:
        """Check the last timed pass: collect each query's frame once more
        and compare it with its DuckDB oracle."""
        for name, (idx, df) in sorted(self.last.items()):
            with runner.check(idx):
                bad = self.oracles.check(name, df.toPandas())
                if bad:
                    runner.fail(idx, f"{name}: {bad}")

    def reference(self) -> dict[str, float]:
        """DuckDB oracle seconds per query, for the reference table."""
        return dict(self.oracles.seconds)

    def amplification(self) -> dict[str, float]:
        return {}


PK = ["l_orderkey", "l_linenumber"]
AGG_SQL = ("SELECT l_shipyear, count(*) AS n, sum(l_quantity) AS qty, "
           "sum(l_extendedprice) AS price FROM {table} GROUP BY l_shipyear")


class EtlUpsert:
    """Write workload against one `ParquetTable` partitioned by ship year.

    A pass is one cycle of five commits: an insert-ignore batch (about half
    PK duplicates), an UPDATE and a DELETE on seeded sets of order keys, an
    append of a replayed delivery (exact duplicate rows) and `dedup_rewrite`.
    Every commit is followed by a point lookup on the keys it touched and a
    per-partition aggregate."""

    KEYS = 50

    def __init__(self, rows: int, batch: int, replay: int, pass_seconds: float) -> None:
        self.rows, self.batch, self.replay = rows, batch, replay
        self.pass_seconds = pass_seconds
        self.data_kw = {"sf": 0.001, "docs": 100, "vecs": 100}

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        from financedatabase_spark.operators import io_sinks

        self.F, self.io = F, io_sinks
        self.rng = np.random.default_rng(ctx.seed + 1)
        self.dir = os.path.join(ctx.work, "etl")
        os.makedirs(self.dir)
        i = np.arange(self.rows)
        self.key_base = 10_000_000 + int(self.rng.integers(0, 100)) * 1000
        cols = datagen.lineitem_columns(
            self.rng, self.rows, 0, 20_000, 1_000, 0, dt.timedelta(0),
            orderkeys=self.key_base + i // 4, linenumbers=i % 4 + 1,
        )
        base = self._with_year(pa.table(cols))
        self.columns = base.column_names
        self.next_key = self.key_base + self.rows // 4
        base_file = os.path.join(self.dir, "base.parquet")
        pq.write_table(base, base_file)
        self.model = EtlModel(base_file, self.columns, PK)
        self.row_bytes = self.model.compact_bytes(os.path.join(self.dir, "compact.parquet")) / self.rows
        self.table = io_sinks.ParquetTable(ctx.spark, os.path.join(self.dir, "table"), ["l_shipyear"])
        self.table.write(ctx.spark.read.parquet(base_file), mode="overwrite")
        self.n_batch = 0
        self.user_bytes = 0.0
        self.bytes_written = 0

    def _with_year(self, t: pa.Table) -> pa.Table:
        return t.append_column("l_shipyear", pc.year(t["l_shipdate"]).cast(pa.int32()))

    # -- inputs (outside timed calls) ----------------------------------
    def _batch_file(self, kind: str) -> str:
        self.n_batch += 1
        return os.path.join(self.dir, f"{kind}_{self.n_batch:04d}.parquet")

    def _incoming(self) -> tuple[str, list[int]]:
        """Half new primary keys, half keys already in the table carrying
        different values (which insert-ignore must drop)."""
        n_new = self.batch // 2
        old = self.model.con.execute(
            f"SELECT l_orderkey, l_linenumber FROM t ORDER BY hash(l_orderkey, l_linenumber, "
            f"{int(self.rng.integers(1 << 30))}) LIMIT {self.batch - n_new}"
        ).fetchnumpy()
        j = np.arange(n_new)
        keys = np.concatenate([self.next_key + j // 4, old["l_orderkey"]])
        lines = np.concatenate([j % 4 + 1, old["l_linenumber"]])
        self.next_key += (n_new + 3) // 4
        cols = datagen.lineitem_columns(
            self.rng, len(keys), 0, 20_000, 1_000, 0, dt.timedelta(0),
            orderkeys=keys, linenumbers=lines,
        )
        path = self._batch_file("insert")
        pq.write_table(self._with_year(pa.table(cols)), path)
        touched = sorted(set(keys[:: max(1, len(keys) // self.KEYS)].tolist()))
        return path, touched

    def _keys(self) -> list[int]:
        return [int(k) for k in self.model.con.execute(
            f"SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey FROM t) ORDER BY hash(l_orderkey, "
            f"{int(self.rng.integers(1 << 30))}) LIMIT {self.KEYS}"
        ).fetchnumpy()["l_orderkey"]]

    # -- the pass -------------------------------------------------------
    def run_pass(self, ctx, runner, p: int) -> None:
        """One cycle, then the committed files are compared with the model.
        Input preparation runs aside, outside the pass figures."""
        io, spark = self.io, ctx.spark
        with runner.aside():
            path, keys = self._incoming()
        self._commit(runner, "insert_ignore", keys,
                     lambda: self.table.rewrite(io.insert_ignore(
                         self.table.read(), spark.read.parquet(path), PK)),
                     lambda: self.model.insert_ignore(path))
        with runner.aside():
            keys = self._keys()
            sets = {"l_linestatus": "U", "l_quantity": float(self.rng.integers(1, 51))}
        self._commit(runner, "run_update", keys,
                     lambda: io.run_update(self.table, {"l_orderkey": keys}, sets),
                     lambda: self.model.update(keys, sets))
        with runner.aside():
            keys = self._keys()
        self._commit(runner, "run_delete", keys,
                     lambda: io.run_delete(self.table, {"l_orderkey": keys}),
                     lambda: self.model.delete(keys))
        with runner.aside():
            path = self._batch_file("replay")
            self.model.sample_rows(self.replay, int(self.rng.integers(1 << 30)), path)
            keys = sorted(set(pq.read_table(path, columns=["l_orderkey"])["l_orderkey"]
                              .to_pylist()))[: self.KEYS]
        self._commit(runner, "append", keys,
                     lambda: self.table.write(spark.read.parquet(path), mode="append"),
                     lambda: self.model.append(path))
        last = self._commit(runner, "dedup_rewrite", keys,
                            lambda: io.dedup_rewrite(self.table),
                            lambda: self.model.dedup())
        with runner.check(last):
            bad = self.model.diff_on_disk(self._current_dir())
            if bad:
                runner.fail(last, bad)

    def _commit(self, runner, name, keys, commit, model_apply) -> int:
        """Time one DML commit, record the files it wrote, apply it to the
        model, then run the two reads."""
        with runner.aside():
            before = _files(self.table.path)
        op = runner.op(name, "commit", execute=lambda _: commit())
        with runner.aside():
            after = _files(self.table.path)
            new = [s for f, s in after.items() if f not in before]
            self.bytes_written += sum(new)
            runner.note(op.idx, bytes_written=sum(new), files_written=len(new),
                        table_bytes=sum(after.values()), table_files=len(after))
        with runner.check(op.idx):
            self.user_bytes += model_apply() * self.row_bytes
        self._reads(runner, keys)
        return op.idx

    def _reads(self, runner, keys: list[int]) -> None:
        F = self.F
        point = runner.op(
            "point_lookup", "read",
            build=lambda: self.table.read().filter(F.col("l_orderkey").isin(keys)),
            execute=lambda df: df.toPandas(),
        )
        if point.ok:
            with runner.check(point.idx):
                bad = same_frame(point.result, self.model.lookup(keys))
                if bad:
                    runner.fail(point.idx, f"point_lookup: {bad}")
        agg = runner.op(
            "partition_agg", "read",
            build=lambda: self.table.read().groupBy("l_shipyear").agg(
                F.count("*").alias("n"), F.sum("l_quantity").alias("qty"),
                F.sum("l_extendedprice").alias("price")),
            execute=lambda df: df.toPandas(),
        )
        if agg.ok:
            with runner.check(agg.idx):
                bad = same_frame(agg.result, self.model.aggregate(AGG_SQL))
                if bad:
                    runner.fail(agg.idx, f"partition_agg: {bad}")

    def _current_dir(self) -> str:
        pointer = os.path.join(self.table.path, self.io.ParquetTable.POINTER)
        with open(pointer) as f:
            return os.path.join(self.table.path, f.read().strip())

    def finish(self, ctx, runner) -> None:
        pass

    def reference(self) -> dict[str, float]:
        return {}

    def amplification(self) -> dict[str, float]:
        table = _files(self.table.path)
        live = self.model.compact_bytes(os.path.join(self.dir, "live.parquet"))
        return {
            "write_amp": self.bytes_written / max(self.user_bytes, 1.0),
            "space_amp": sum(table.values()) / live,
        }


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def make(name: str):
    if name == "market_bars":
        return QueryMix(MARKET_BARS, {"sf": 0.01, "docs": 100, "vecs": 100}, pass_seconds=6.0)
    if name == "corpus_dedup":
        return QueryMix(CORPUS_DEDUP, {"sf": 0.001, "docs": 300, "vecs": 300}, pass_seconds=7.0)
    if name == "etl_upsert":
        return EtlUpsert(rows=60_000, batch=2_000, replay=1_000, pass_seconds=6.0)
    raise SystemExit(f"unknown workload {name!r}; choose market_bars, corpus_dedup or etl_upsert")
