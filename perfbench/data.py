"""Deterministic input tables for the benchmark.

The TPC-H tables come from DuckDB's built-in ``dbgen`` (deterministic
for a given scale factor) projected onto the package's star schema;
``events``, ``documents`` and ``embeddings`` come from a fixed-seed
NumPy generator. The base data never depends on the workload seed:
the seed only picks keys and ranges inside it (see the workloads).

Tables are written once per scale factor under ``.perfbench/data`` in
the checkout and reused by later runs; a stamp file guards against a
half-written directory.
"""

from __future__ import annotations

import os
import shutil

GENERATOR_VERSION = "1"

# dbgen's types -> the package's schema (keys BIGINT, money DOUBLE,
# dates TIMESTAMP), the layout the registry queries and oracles expect
_TPCH = {
    "region": "SELECT CAST(r_regionkey AS INTEGER) r_regionkey, r_name "
    "FROM region ORDER BY 1",
    "nation": "SELECT CAST(n_nationkey AS INTEGER) n_nationkey, n_name, "
    "CAST(n_regionkey AS INTEGER) n_regionkey FROM nation ORDER BY 1",
    "customer": "SELECT CAST(c_custkey AS BIGINT) c_custkey, c_name, "
    "CAST(c_nationkey AS INTEGER) c_nationkey, CAST(c_acctbal AS DOUBLE) "
    "c_acctbal, c_mktsegment FROM customer ORDER BY 1",
    "supplier": "SELECT CAST(s_suppkey AS BIGINT) s_suppkey, s_name, "
    "CAST(s_nationkey AS INTEGER) s_nationkey, CAST(s_acctbal AS DOUBLE) "
    "s_acctbal FROM supplier ORDER BY 1",
    "part": "SELECT CAST(p_partkey AS BIGINT) p_partkey, p_name, p_brand, "
    "p_type, CAST(p_size AS INTEGER) p_size, CAST(p_retailprice AS DOUBLE) "
    "p_retailprice FROM part ORDER BY 1",
    "orders": "SELECT CAST(o_orderkey AS BIGINT) o_orderkey, "
    "CAST(o_custkey AS BIGINT) o_custkey, o_orderstatus, "
    "CAST(o_totalprice AS DOUBLE) o_totalprice, "
    "CAST(o_orderdate AS TIMESTAMP) o_orderdate, o_orderpriority "
    "FROM orders ORDER BY 1",
    "lineitem": "SELECT CAST(l_orderkey AS BIGINT) l_orderkey, "
    "CAST(l_partkey AS BIGINT) l_partkey, CAST(l_suppkey AS BIGINT) "
    "l_suppkey, CAST(l_linenumber AS INTEGER) l_linenumber, "
    "CAST(l_quantity AS DOUBLE) l_quantity, CAST(l_extendedprice AS DOUBLE) "
    "l_extendedprice, CAST(l_discount AS DOUBLE) l_discount, "
    "CAST(l_tax AS DOUBLE) l_tax, l_returnflag, l_linestatus, "
    "CAST(l_shipdate AS TIMESTAMP) l_shipdate FROM lineitem ORDER BY 1, 4",
}

TABLES = tuple(_TPCH) + ("events", "documents", "embeddings")

_WORDS = (
    "data table spark query join merge window batch stream value key row "
    "column scan filter sort group agg part order line customer fast slow "
    "big small hash vector the a of and to in is for with on at by from "
    "lake house file commit manifest schema plan stage task shuffle cache"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _synthetic(sf: float, n_users: int) -> dict:
    """events / documents / embeddings as pyarrow tables."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(20240101)

    n_ev = max(1000, int(1_000_000 * sf))
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + start_us
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(1, n_users + 1, n_ev), pa.int64()),
            "event_type": pa.array(
                [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]
            ),
            "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
            "props": pa.array(
                ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]
            ),
        }
    )

    # a corpus with exact duplicates (case/whitespace variants) and
    # near-duplicates (a few words replaced), so the dedup queries
    # have real groups to find
    n_doc = max(500, int(50_000 * sf))
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.10:
            base = texts[int(rng.integers(0, i))]
            texts.append("  " + base.upper() if r < 0.05 else base + " ")
        elif i > 10 and r < 0.20:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(20, 80))
            texts.append(
                " ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), n_words))
            )
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[i] for i in rng.integers(0, 5, n_doc)]),
            "source": pa.array(
                ["src%d" % i for i in rng.integers(0, 20, n_doc)]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    n_vec = max(500, int(20_000 * sf))
    vecs = rng.normal(0, 0.12, (n_vec, 64)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def ensure_tables(root: str, sf: float) -> str:
    """Return the directory holding every table at ``sf``, generating
    it on first use."""
    out = os.path.join(root, ".perfbench", "data", f"sf{sf:g}")
    stamp = os.path.join(out, "_GENERATED")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == GENERATOR_VERSION:
                return out
    import duckdb
    import pyarrow.parquet as pq

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CALL dbgen(sf={sf})")
        for name, query in _TPCH.items():
            path = os.path.join(tmp, f"{name}.parquet")
            con.execute(f"COPY ({query}) TO '{path}' (FORMAT parquet)")
        n_users = con.execute("SELECT count(*) FROM customer").fetchone()[0]
    finally:
        con.close()
    for name, table in _synthetic(sf, min(n_users, 2000)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_GENERATED"), "w") as f:
        f.write(GENERATOR_VERSION)
    os.rename(tmp, out)
    return out
