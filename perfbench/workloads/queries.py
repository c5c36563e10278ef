"""The query sweep of traced lakehouse_dml runs: every ``headline=True``
query of ``queries.REGISTRY`` over the generated star schema.

Each query runs twice after the measured passes: first with
``collect`` (untimed; its rows are compared with the query's
registered oracle SQL on DuckDB, and a query without an oracle must
return rows), then materialized with the noop sink, timed, which gives
``query.<name>_s``. The seed picks the order the queries run in.
"""

from __future__ import annotations

import os
import time

from perfbench.check import of_rows


def plan(seed: int, sf_dir: str) -> dict:
    """Query order and expected results, computed by DuckDB."""
    import duckdb
    import numpy as np

    from perfbench.data import TABLES
    from small_etl_spark.queries import REGISTRY

    queries = [(n, q.oracle) for n, q in REGISTRY.items() if q.headline]
    expected: dict = {}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        for name, oracle in queries:
            if oracle is None:
                expected[f"query.{name}"] = True  # rows-only check
                continue
            res = con.execute(oracle)
            expected[f"query.{name}"] = of_rows(
                [d[0] for d in res.description], res.fetchall()
            )
    finally:
        con.close()
    order = [queries[i][0] for i in np.random.default_rng(seed).permutation(len(queries))]
    return {"sf_dir": sf_dir, "order": order, "expected": expected}


def sweep(spark, plan: dict, tracer) -> dict:
    from small_etl_spark.queries import REGISTRY

    ops, checks, layer = [], [], {}
    for name in plan["order"]:
        spec = REGISTRY[name]
        try:
            df = spec.builder(spark, plan["sf_dir"])
            value = of_rows(df.columns, df.collect())
            if spec.oracle is None:
                value = value[1] > 0
        except Exception as exc:  # noqa: BLE001 - reported as a failed check
            value = repr(exc)[:300]
        op = {"kind": "query", "name": name, "ok": True}
        t0 = time.perf_counter()
        try:
            with tracer.span(f"query.{name}", "queries"):
                spec.builder(spark, plan["sf_dir"]).write.format("noop").mode(
                    "overwrite"
                ).save()
        except Exception as exc:  # noqa: BLE001 - a failed op is a counted failure
            op.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
        op["s"] = time.perf_counter() - t0
        layer[f"query.{name}_s"] = op["s"]
        checks.append({"name": f"query.{name}", "value": value, "op": len(ops)})
        ops.append(op)
    return {"ops": ops, "checks": checks, "layer": layer}
