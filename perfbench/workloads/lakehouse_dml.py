"""lakehouse_dml: writes beside reads on one versioned table, built
fresh each pass.

The table is ``lineitem`` plus a row key ``rk = l_orderkey * 8 +
l_linenumber``, range-clustered on ``rk`` into 16 files. A pass
commits it, then runs ``ROUNDS`` rounds of

- a clustered MERGE (a contiguous ``rk`` range, ~0.4% of rows),
- a scattered MERGE (~0.1% of rows spread over every file),
- an append (~0.1% new rows),
- five point reads,
- one ``sql()`` aggregate,

then a DELETE, an UPDATE and a time-travel read of version 0. The
seed picks the ranges, the scattered keys and the point-read keys.
Every operation's inputs are written by DuckDB before the run, and
the same operation log is replayed in DuckDB for the expected point
reads, aggregates and final-snapshot checksum.
"""

from __future__ import annotations

import os
import shutil

from perfbench.check import of_rows
from perfbench.meters import dir_mb

NAME = "lakehouse_dml"
SF = 0.01  # lineitem: ~60,000 rows
N_FILES = 16
ROUNDS = 1
CLUSTERED_FRAC = 0.004
SCATTERED_FRAC = 0.001  # rounded to whole keys per file
APPEND_FRAC = 0.001
DELETE_FRAC = 0.002
UPDATE_FRAC = 0.002

AGG_SQL = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_cents "
    "FROM {t} GROUP BY l_returnflag, l_linestatus"
)
# order-insensitive integer checksum of a snapshot (exact on both
# engines: every money column holds whole cents)
CHECKSUM_SQL = (
    "SELECT count(*) AS n, "
    "sum(rk * 7 + CAST(round(l_quantity * 100) AS BIGINT) * 13 "
    "+ CAST(round(l_extendedprice * 100) AS BIGINT) * 17 "
    "+ CAST(round(l_discount * 100) AS BIGINT) * 19 "
    "+ CAST(round(l_tax * 100) AS BIGINT) * 23) AS s1, "
    "sum((rk % 1009) * (CAST(round(l_quantity * 100) AS BIGINT) "
    "+ 3 * CAST(round(l_discount * 100) AS BIGINT) + 1)) AS s2 FROM {t}"
)


# ---------------------------------------------------------------------------
# orchestrator side
# ---------------------------------------------------------------------------


def plan(seed: int, sf_dir: str, run_dir: str, api_url: str | None = None) -> dict:
    import duckdb
    import numpy as np

    rng = np.random.default_rng(seed)
    src_dir = os.path.join(run_dir, "lake_src")
    os.makedirs(src_dir, exist_ok=True)
    lineitem = os.path.join(sf_dir, "lineitem.parquet")
    con = duckdb.connect()
    ops: list[dict] = []
    expected: dict = {}

    def q(sql: str, *params):
        return con.execute(sql, list(params)).fetchall()

    def rows_of(sql: str, *params) -> list:
        res = con.execute(sql, list(params))
        return of_rows([d[0] for d in res.description], res.fetchall())

    try:
        con.execute("SET threads TO 2")
        con.execute(
            f"CREATE TABLE t AS SELECT *, l_orderkey * 8 + l_linenumber AS rk "
            f"FROM '{lineitem}'"
        )
        base_rks = np.array([r[0] for r in q("SELECT rk FROM t ORDER BY rk")])
        n = len(base_rks)
        max_rk = int(base_rks[-1])
        expected["checksum.v0"] = list(q(CHECKSUM_SQL.format(t="t"))[0])

        def write_src(name: str, select_sql: str) -> str:
            path = os.path.join(src_dir, f"{name}.parquet")
            con.execute(f"COPY ({select_sql}) TO '{path}' (FORMAT parquet)")
            return path

        def upsert(path: str) -> None:
            con.execute(f"DELETE FROM t WHERE rk IN (SELECT rk FROM '{path}')")
            con.execute(f"INSERT INTO t SELECT * FROM '{path}'")

        updated = (
            "SELECT * REPLACE (l_quantity + 1 AS l_quantity, "
            "round(l_extendedprice * 1.01, 2) AS l_extendedprice) FROM t "
        )
        # The base is range-partitioned on rk into N_FILES equal rank
        # slices. Each range op stays inside its own fixed slice, away
        # from the slice edges, at an offset the seed picks; scattered
        # keys are stratified over every slice. So every seed rewrites
        # the same files, and seeds differ only in which rows change.
        slice_n = n // N_FILES

        def in_slice(k: int, rows: int) -> tuple[int, int]:
            margin = slice_n // 6
            i = k * slice_n + int(rng.integers(margin, slice_n - margin - rows))
            return int(base_rks[i]), int(base_rks[i + rows - 1])

        for r in range(ROUNDS):
            nc = max(1, int(n * CLUSTERED_FRAC))
            lo, hi = in_slice(2 + 4 * r, nc)
            path = write_src(f"merge_c{r}", updated + f"WHERE rk BETWEEN {lo} AND {hi}")
            upsert(path)
            ops.append({"kind": "merge_clustered", "src": path, "rows": nc})

            per_slice = max(1, int(n * SCATTERED_FRAC) // N_FILES)
            picks = sorted(
                int(base_rks[k * slice_n + j])
                for k in range(N_FILES)
                for j in rng.choice(slice_n, per_slice, replace=False)
            )
            ns = len(picks)
            keys = ",".join(map(str, picks))
            path = write_src(f"merge_s{r}", updated + f"WHERE rk IN ({keys})")
            upsert(path)
            ops.append({"kind": "merge_scattered", "src": path, "rows": ns})

            na = max(1, int(n * APPEND_FRAC))
            first_new = max_rk + 1 + r * na
            offs = int(rng.integers(0, n - na))
            path = write_src(
                f"append{r}",
                f"SELECT * REPLACE ({first_new} + row_number() OVER (ORDER BY rk) - 1 "
                f"AS rk) FROM t WHERE rk >= {int(base_rks[offs])} ORDER BY rk LIMIT {na}",
            )
            con.execute(f"INSERT INTO t SELECT * FROM '{path}'")
            ops.append({"kind": "append", "src": path, "rows": na})

            point_keys = [
                int(rng.integers(lo, hi + 1)), lo,
                picks[int(rng.integers(0, ns))], picks[0],
                first_new + int(rng.integers(0, na)),
            ]
            for i, k in enumerate(point_keys):
                name = f"point.r{r}.{i}"
                expected[name] = rows_of("SELECT * FROM t WHERE rk = ?", k)
                ops.append({"kind": "point_read", "key": k, "check": name})
            name = f"sql.r{r}"
            expected[name] = rows_of(AGG_SQL.format(t="t"))
            ops.append({"kind": "sql", "query": AGG_SQL.format(t="li"), "check": name})

        for kind, frac, k, stmt in (
            ("delete", DELETE_FRAC, N_FILES - 5,
             "DELETE FROM t WHERE rk BETWEEN {lo} AND {hi}"),
            ("update", UPDATE_FRAC, N_FILES - 2,
             "UPDATE t SET l_discount = 0.0 WHERE rk BETWEEN {lo} AND {hi}"),
        ):
            lo, hi = in_slice(k, max(1, int(n * frac)))
            changed = q(f"SELECT count(*) FROM t WHERE rk BETWEEN {lo} AND {hi}")[0][0]
            con.execute(stmt.format(lo=lo, hi=hi))
            ops.append({"kind": kind, "lo": lo, "hi": hi, "rows": changed})

        ops.append({"kind": "time_travel", "check": "checksum.v0"})
        expected["checksum.final"] = list(q(CHECKSUM_SQL.format(t="t"))[0])
    finally:
        con.close()
    return {
        "lineitem": lineitem,
        "lake_root": os.path.join(run_dir, "lake"),
        "ops": ops,
        "expected": expected,
    }


# ---------------------------------------------------------------------------
# worker side
# ---------------------------------------------------------------------------


class Workload:
    imports = ("small_etl_spark.sinks.versioned", "small_etl_spark.sql")

    def __init__(self, spark, plan: dict, tracer):
        self.spark = spark
        self.plan = plan
        self.tracer = tracer

    def trace_patches(self) -> list[tuple]:
        return []

    def _checksum(self, df) -> list:
        view = "perfbench_checksum"
        df.createOrReplaceTempView(view)
        return list(self.spark.sql(CHECKSUM_SQL.format(t=view)).first())

    def run_pass(self, pass_id: int, timer) -> dict:
        from pyspark.sql import functions as F

        from small_etl_spark.sinks import versioned as V
        from small_etl_spark.sql import sql

        spark, tr = self.spark, self.tracer
        table = os.path.join(self.plan["lake_root"], f"p{pass_id}", "li")
        ops: list[dict] = []
        checks: list[dict] = []
        versions: dict[int, int] = {}  # op index -> committed version
        layer: dict = {"sql.plan_s": [], "sql.exec_s": []}

        def timed(kind: str, fn):
            import time

            t0 = time.perf_counter()
            try:
                with tr.span(kind, "sinks.versioned" if kind != "sql" else "sql"):
                    out = fn()
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed op is a counted failure
                out, ok = f"{type(exc).__name__}: {exc}"[:300], False
            ops.append({"kind": kind, "name": kind, "s": time.perf_counter() - t0, "ok": ok})
            if not ok:
                ops[-1]["error"] = out
            return out if ok else None

        def commit_base():
            base = spark.read.parquet(self.plan["lineitem"]).withColumn(
                "rk", F.col("l_orderkey") * 8 + F.col("l_linenumber")
            )
            base = base.repartitionByRange(N_FILES, "rk").sortWithinPartitions("rk")
            return V.commit_snapshot(base, table, mode="overwrite")

        def point_read(k: int):
            df = V.read_snapshot(spark, table, where=[("rk", "=", k)])
            return df.columns, df.filter(F.col("rk") == k).collect()

        def sql_agg(query: str):
            import time

            t0 = time.perf_counter()
            with tr.span("sql.plan", "sql"):
                df = sql(spark, query, tables={"li": table})
            t1 = time.perf_counter()
            with tr.span("sql.exec", "sql"):
                rows = df.collect()
            layer["sql.plan_s"].append(t1 - t0)
            layer["sql.exec_s"].append(time.perf_counter() - t1)
            return df.columns, rows

        def range_prune(op):
            return [("rk", ">=", op["lo"]), ("rk", "<=", op["hi"])]

        def range_pred(op):
            return f"rk >= {op['lo']} AND rk <= {op['hi']}"

        with timer:
            v = timed("commit", commit_base)
            versions[len(ops) - 1] = v
            for op in self.plan["ops"]:
                kind = op["kind"]
                if kind.startswith("merge"):
                    out = timed(kind, lambda: V.merge_upsert(
                        spark, table, spark.read.parquet(op["src"]), key="rk"))
                elif kind == "append":
                    out = timed(kind, lambda: V.commit_snapshot(
                        spark.read.parquet(op["src"]), table, mode="append"))
                elif kind == "point_read":
                    out = timed(kind, lambda: point_read(op["key"]))
                elif kind == "sql":
                    out = timed(kind, lambda: sql_agg(op["query"]))
                elif kind == "delete":
                    out = timed(kind, lambda: V.delete_where(
                        spark, table, range_pred(op), prune=range_prune(op)))
                elif kind == "update":
                    out = timed(kind, lambda: V.update_where(
                        spark, table, {"l_discount": "0.0"}, range_pred(op),
                        prune=range_prune(op)))
                elif kind == "time_travel":
                    out = timed(kind, lambda: self._checksum(
                        V.read_snapshot(spark, table, version=0)))
                else:
                    raise ValueError(f"unknown op {kind!r}")
                i = len(ops) - 1
                if out is None:
                    continue
                if "check" in op:
                    value = out if kind == "time_travel" else of_rows(*out)
                    checks.append({"name": op["check"], "value": value, "op": i})
                elif kind != "point_read":
                    versions[i] = out
        # ---- untimed: final-snapshot check and manifest metrics
        try:
            final = self._checksum(V.read_snapshot(spark, table))
            checks.append({"name": "checksum.final", "value": final, "op": len(ops) - 1})
            layer.update(self._manifest_metrics(table, versions, ops))
        except Exception as exc:  # noqa: BLE001 - reported as a failed check
            checks.append({"name": "checksum.final", "value": repr(exc)[:300],
                           "op": len(ops) - 1})
        stored_mb = dir_mb(table)
        shutil.rmtree(os.path.dirname(table), ignore_errors=True)
        return {"ops": ops, "checks": checks, "layer": layer, "stored_mb": stored_mb}

    def _manifest_metrics(self, table: str, versions: dict, ops: list) -> dict:
        from small_etl_spark.sinks import versioned as V

        def files(v: int) -> dict:
            return {e["path"]: int(e["rows"]) for e in V.read_manifest(table, v)["files"]}

        plan_ops = [None] + self.plan["ops"]  # op 0 is the base commit
        rewritten = {"merge_clustered": [], "merge_scattered": []}
        rows_rewritten, rows_changed = 0, 0
        for i, v in sorted(versions.items()):
            kind = ops[i]["kind"]
            if kind not in ("merge_clustered", "merge_scattered", "delete", "update"):
                continue
            before, after = files(v - 1), files(v)
            gone = [p for p in before if p not in after]
            if kind in rewritten:
                rewritten[kind].append(len(gone))
            rows_rewritten += sum(before[p] for p in gone)
            rows_changed += plan_ops[i]["rows"]
        mdir = os.path.join(table, "_manifests")
        manifest_bytes = sum(
            os.path.getsize(os.path.join(mdir, f)) for f in os.listdir(mdir)
        )
        last = max(versions.values())
        return {
            "versioned.files_rewritten.merge_clustered": _mean(rewritten["merge_clustered"]),
            "versioned.files_rewritten.merge_scattered": _mean(rewritten["merge_scattered"]),
            "versioned.rows_rewritten_per_row_changed": rows_rewritten / max(rows_changed, 1),
            "versioned.files_live": len(files(last)),
            "versioned.manifest_kb": manifest_bytes / 1024,
        }


def _mean(xs: list) -> float:
    return sum(xs) / len(xs) if xs else 0.0
