"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the registered queries read (`region nation customer
supplier part orders lineitem events documents embeddings`) as one parquet
file each, with the schemas and value domains of the engine's test data, so
the same registered queries and DuckDB oracles run on them unchanged.

The seed decides every value, plus a whole-week shift of the time axis and
a surrogate-key offset (both preserve row order, time-sortedness of
`events`, day-of-week structure and key joins). The same seed and scale
always give byte-identical files.

The document and embedding tables carry a fixed share of exact and near
duplicates, so the dedup and similarity queries have real work to find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
COLORS = "blue green red small large".split()
NOUNS = "anvil bolt gear ring widget nut spring valve pipe lever cam hinge clamp".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PTYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = np.array(["en", "es", "fr", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
CLUSTERS = 10

#: share of documents / vectors that copy an earlier one exactly, or nearly
EXACT_DUP = 0.01
NEAR_DUP = 0.04


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    epoch_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(epoch_us + (seconds * 1e6).astype(np.int64), type=pa.timestamp("us"))


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype(np.int64) * 86400)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float, docs: int, vecs: int) -> dict:
    """Write every table under ``out_dir``; returns a summary of the inputs.

    ``sf`` scales the star schema and the event stream like the engine's
    test data (sf=0.1: 600k lineitem rows, 100k events); ``docs`` and
    ``vecs`` size the corpus tables independently."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    week_shift = int(rng.integers(0, 4))
    key_off = int(rng.integers(0, 100)) * 1000
    shift = dt.timedelta(weeks=week_shift)

    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = max(2000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust) + key_off
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp) + key_off
    _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pk + key_off,
        "p_name": [f"{c} {w}" for c, w in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    d0 = dt.datetime(1995, 1, 1) + shift
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord) + key_off,
        "o_custkey": rng.integers(0, n_cust, n_ord) + key_off,
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(d0, rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", lineitem_columns(rng, n_li, n_ord, n_part, n_supp, key_off, shift))

    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev) + key_off,
        "ts": _ts(dt.datetime(2024, 1, 1) + shift, secs),
        "user_id": rng.integers(0, n_users, n_ev) + key_off,
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    texts = _documents(rng, docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(docs) + key_off,
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, docs)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })
    emb, labels = _embeddings(rng, vecs)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(vecs) + key_off,
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "seed": seed, "sf": sf, "week_shift": week_shift, "key_offset": key_off,
        "rows": {"lineitem": n_li, "orders": n_ord, "events": n_ev,
                 "documents": docs, "embeddings": vecs},
    }


def lineitem_columns(
    rng: np.random.Generator, n: int, n_ord: int, n_part: int, n_supp: int,
    key_off: int, shift: dt.timedelta, orderkeys: np.ndarray | None = None,
    linenumbers: np.ndarray | None = None,
) -> dict:
    """Lineitem rows in the test data's domains; the ETL table reuses it
    with explicit (unique) order keys and line numbers."""
    if orderkeys is None:
        orderkeys = rng.integers(0, n_ord, n) + key_off
    if linenumbers is None:
        linenumbers = rng.integers(1, 8, n)
    return {
        "l_orderkey": orderkeys,
        "l_partkey": rng.integers(0, n_part, n) + key_off,
        "l_suppkey": rng.integers(0, n_supp, n) + key_off,
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(dt.datetime(1995, 1, 2) + shift, rng.integers(0, 2498, n)),
    }


def _copies(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Row positions that copy an earlier row exactly / nearly. The counts
    are fixed shares of ``n``, so every seed gives the same amount of
    duplicate work; only which rows are copies changes."""
    pos = rng.permutation(np.arange(1, n))
    n_exact, n_near = round(n * EXACT_DUP), round(n * NEAR_DUP)
    return np.sort(pos[:n_exact]), np.sort(pos[n_exact:n_exact + n_near])


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.array(VOCAB)
    exact, near = _copies(rng, n)
    kind = np.zeros(n, np.int8)
    kind[exact], kind[near] = 1, 2
    out: list[str] = []
    for i in range(n):
        if kind[i] == 1:
            out.append(out[int(rng.integers(0, i))])
        elif kind[i] == 2:
            words = out[int(rng.integers(0, i))].split()
            flip = rng.random(len(words)) < 0.06
            words = [str(rng.choice(vocab)) if f else w for w, f in zip(words, flip)]
            out.append(" ".join(words))
        else:
            out.append(" ".join(rng.choice(vocab, int(rng.integers(8, 100)))))
    return out


def _embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    centers = rng.normal(0.0, 1.0, (CLUSTERS, DIM))
    labels = rng.integers(0, CLUSTERS, n)
    vecs = centers[labels] + rng.normal(0.0, 2.0, (n, DIM))
    _, near = _copies(rng, n)
    src = (rng.random(len(near)) * near).astype(np.int64)
    vecs[near] = vecs[src] + rng.normal(0.0, 0.01, (len(near), DIM))
    labels[near] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels
