"""Seeded fixture tables for the benchmark.

The engine's queries read ten parquet tables (``sources.synth.TABLES``).
The benchmark writes its own copies from ``--seed`` so that a run needs
nothing outside its checkout: the same seed gives byte-identical
tables, another seed gives other keys and other document texts.

Only two tables carry content the measured paths depend on:

- ``orders.o_orderkey`` is the key every synthetic page derives from
  (``sources.synth.pages_sql``): seeded distinct keys below 2**27, so
  ``page_id * 1103515245`` stays far below the ANSI int64 limit even at
  the join workload's fan-out;
- ``documents.text`` feeds the dedup query: seeded word sequences over a
  small vocabulary, at most 560 characters (the dedup oracle shingles
  the first 600 characters only).

The other eight tables hold a few seeded rows with the fixture schema
(TESTDATA.md) so that view registration finds them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from smart_geocubes_spark.sources.synth import TABLES

_KEY_SPACE = 1 << 27
_EPOCH_2020_US = 1577836800 * 1_000_000
_YEAR_US = 365 * 86400 * 1_000_000
_VOCAB = (
    "a the data spark row key join sort hash scan agg part line order query "
    "table group value batch stream filter merge window column vector fast "
    "slow big small customer"
).split()


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    us = _EPOCH_2020_US + rng.integers(0, 4 * _YEAR_US, n)
    return pa.array(us, type=pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    out = []
    for target in rng.integers(60, 560, n):
        words: list[str] = []
        size = -1
        for w in rng.choice(_VOCAB, 120):
            if size + 1 + len(w) > target:
                break
            words.append(str(w))
            size += 1 + len(w)
        out.append(" ".join(words))
    return out


def _tables(seed: int, n_orders: int, n_docs: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    small = 50
    keys = np.sort(rng.choice(_KEY_SPACE, n_orders, replace=False)).astype(np.int64)
    texts = _texts(rng, n_docs)
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    i32 = lambda v: pa.array(np.asarray(v, dtype=np.int32))  # noqa: E731
    f64 = lambda n: pa.array(np.round(rng.random(n) * 1000, 2))  # noqa: E731
    strs = lambda p, n: pa.array([f"{p}{i}" for i in range(n)])  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": strs("region", 5)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)), "n_name": strs("nation", 25),
            "n_regionkey": i32(np.arange(25) % 5),
        }),
        "customer": pa.table({
            "c_custkey": i64(small), "c_name": strs("cust", small),
            "c_nationkey": i32(rng.integers(0, 25, small)), "c_acctbal": f64(small),
            "c_mktsegment": strs("seg", small),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(small), "s_name": strs("supp", small),
            "s_nationkey": i32(rng.integers(0, 25, small)), "s_acctbal": f64(small),
        }),
        "part": pa.table({
            "p_partkey": i64(small), "p_name": strs("part", small),
            "p_brand": strs("brand", small), "p_type": strs("type", small),
            "p_size": i32(rng.integers(1, 50, small)), "p_retailprice": f64(small),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(rng.integers(0, small, n_orders)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
            "o_totalprice": f64(n_orders),
            "o_orderdate": _ts(rng, n_orders),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "3-MEDIUM", "5-LOW"], n_orders)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(keys[:small]), "l_partkey": i64(small),
            "l_suppkey": i64(small), "l_linenumber": i32(np.ones(small)),
            "l_quantity": f64(small), "l_extendedprice": f64(small),
            "l_discount": pa.array(np.round(rng.random(small) * 0.1, 2)),
            "l_tax": pa.array(np.round(rng.random(small) * 0.08, 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], small)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], small)),
            "l_shipdate": _ts(rng, small),
        }),
        "events": pa.table({
            "event_id": i64(small), "ts": _ts(rng, small),
            "user_id": pa.array(rng.integers(0, 20, small)),
            "event_type": pa.array(rng.choice(["view", "click", "purchase"], small)),
            "value": f64(small), "props": strs('{"k": ', small),
        }),
        "documents": pa.table({
            "doc_id": i64(n_docs), "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "de", "fr", "es"], n_docs)),
            "source": pa.array([f"src{i % 17}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }),
        "embeddings": pa.table({
            "vec_id": i64(small),
            "embedding": pa.array(
                list(rng.standard_normal((small, 16)).astype(np.float32)),
                type=pa.list_(pa.float32()),
            ),
            "label": i32(rng.integers(0, 4, small)),
        }),
    }


def write_tables(out_dir: str, seed: int, n_orders: int, n_docs: int) -> str:
    """Write every table in ``sources.synth.TABLES`` as
    ``<out_dir>/<table>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(seed, n_orders, n_docs)
    missing = set(TABLES) - set(tables)
    if missing:
        raise RuntimeError(f"fixture tables not generated: {sorted(missing)}")
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

