"""sequence_etl: a four-stage TOML sequence, parsed on every pass.

1. ``extract-orders`` — file source over ``orders``: status filter,
   field mapping, first-wins dedup on the order key, typed sort on the
   order total (descending).
2. ``select-keys`` — the seed's customer keys, one row per customer
   (first wins, i.e. the customer's largest order).
3. ``enrich-customers`` — per-key parameterized API fan-out against the
   mock server, merged back onto stage 2 by key.
4. ``export-bundle`` — ``combined`` union of all stages, exported as a
   CSV + TSV + JSON ZIP with metadata.

Operations are the four stages. Each pass's ZIP is checked against
DuckDB over the same parquet plus the server's response function.
"""

from __future__ import annotations

import csv
import io
import json
import os
import shutil
import zipfile

from perfbench.check import Fingerprint
from perfbench.meters import dir_mb

NAME = "sequence_etl"
SF = 0.01  # orders: 15,000 rows
N_KEYS = 300  # fan-out calls per pass
SERVICE_S = 0.02  # mock API service time per call
STAGES = ("extract-orders", "select-keys", "enrich-customers", "export-bundle")
RESPONSE_SCHEMA = "customer_id bigint, score double, tier string, region_code int"

_INT_COLS = ("customer_id", "order_id", "region_code")
_FLOAT_COLS = ("score", "total")
COLUMNS = tuple(sorted(_INT_COLS + _FLOAT_COLS + ("status", "tier")))


def _canon(rec: dict) -> tuple:
    out = []
    for c in COLUMNS:
        v = rec.get(c)
        if v is None or v == "":
            out.append(None)
        elif c in _INT_COLS:
            out.append(int(float(v)))
        elif c in _FLOAT_COLS:
            out.append(round(float(v), 2))
        else:
            out.append(str(v))
    return tuple(out)


_TOML = """\
[sequence]
name = "perfbench-sequence"
execution_order = ["extract-orders", "select-keys", "enrich-customers", "export-bundle"]

[error_handling]
on_pipeline_failure = "stop"

[[pipelines]]
name = "extract-orders"

[pipelines.source]
type = "file"
path = "{orders}"

[pipelines.source.filters]
o_orderstatus = ["F", "O"]

[pipelines.transform]
deduplicate_fields = ["order_id"]
sort_by = "total"
sort_order = "desc"
keep_only_fields = ["order_id", "customer_id", "total", "status"]
add_markers = false

[pipelines.transform.field_mapping]
o_orderkey = "order_id"
o_custkey = "customer_id"
o_totalprice = "total"
o_orderstatus = "status"

[pipelines.load]
formats = []

[[pipelines]]
name = "select-keys"
depends_on = ["extract-orders"]

[pipelines.source]
type = "previous"
previous_pipeline = "extract-orders"

[pipelines.source.filters]
customer_id = {keys}

[pipelines.transform]
deduplicate_fields = ["customer_id"]
keep_only_fields = ["customer_id", "order_id", "total"]
add_markers = false

[pipelines.load]
formats = []

[[pipelines]]
name = "enrich-customers"
depends_on = ["select-keys"]

[pipelines.source]
type = "previous"
previous_pipeline = "select-keys"
endpoint = "{api}/customers/{{customer_id}}"
parameterized = true
merge_with_api = true
merge_key = "customer_id"
rate_limit_ms = 0
response_schema = "{schema}"

[pipelines.transform]
add_markers = false

[pipelines.load]
formats = []

[[pipelines]]
name = "export-bundle"
depends_on = ["enrich-customers"]

[pipelines.source]
type = "combined"

[pipelines.transform]
add_markers = false

[pipelines.load]
formats = ["csv", "tsv", "json"]
zip_outputs = true
filename_pattern = "bundle.zip"
include_metadata = true
"""


# ---------------------------------------------------------------------------
# orchestrator side: inputs and expected outputs
# ---------------------------------------------------------------------------


def plan(seed: int, sf_dir: str, run_dir: str, api_url: str) -> dict:
    import duckdb
    import numpy as np

    orders = os.path.join(sf_dir, "orders.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW o AS SELECT * FROM '{orders}' "
            "WHERE o_orderstatus IN ('F', 'O')"
        )
        custs = [r[0] for r in con.execute(
            "SELECT DISTINCT o_custkey FROM o ORDER BY 1").fetchall()]
        rng = np.random.default_rng(seed)
        n_keys = min(N_KEYS, len(custs))
        keys = sorted(int(k) for k in rng.choice(custs, n_keys, replace=False))
        con.execute("CREATE TABLE k AS SELECT unnest(?::BIGINT[]) AS ck", [keys])
        stage1 = con.execute(
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM o"
        ).fetchall()
        # first wins over the stage-1 order (total descending)
        stage2 = con.execute(
            "SELECT o_custkey, arg_max(o_orderkey, o_totalprice), "
            "max(o_totalprice), count(*) FILTER (WHERE o_totalprice = m) "
            "FROM o JOIN (SELECT o_custkey c, max(o_totalprice) m FROM o "
            "GROUP BY 1) ON o_custkey = c JOIN k ON o_custkey = ck GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    if any(r[3] != 1 for r in stage2):
        raise ValueError("tied first-wins order totals: first wins is ambiguous")

    from perfbench.mockapi import response_for

    fp = Fingerprint()
    for ok, ck, tot, st in stage1:
        fp.add(_canon({"order_id": ok, "customer_id": ck, "total": tot, "status": st}))
    for ck, ok, tot, _ in stage2:
        rec = {"customer_id": ck, "order_id": ok, "total": tot}
        fp.add(_canon(rec))
        fp.add(_canon({**rec, **response_for(int(ck))}))
    toml_path = os.path.join(run_dir, "sequence.toml")
    with open(toml_path, "w") as f:
        f.write(_TOML.format(
            orders=orders, keys=json.dumps(keys), api=api_url,
            schema=RESPONSE_SCHEMA,
        ))
    expected = {f"bundle.{fmt}": fp.value() for fmt in ("csv", "tsv", "json")}
    expected["bundle.metadata"] = fp.rows
    return {
        "toml": toml_path,
        "out_root": os.path.join(run_dir, "seq_out"),
        "api": api_url,
        "expected": expected,
    }


# ---------------------------------------------------------------------------
# worker side
# ---------------------------------------------------------------------------


def zip_fingerprints(zip_path: str) -> dict:
    out = {}
    with zipfile.ZipFile(zip_path) as zf:
        for fmt, sep in (("csv", ","), ("tsv", "\t")):
            fp = Fingerprint()
            with zf.open(f"output.{fmt}") as raw:
                for rec in csv.DictReader(io.TextIOWrapper(raw, "utf-8"), delimiter=sep):
                    fp.add(_canon(rec))
            out[f"bundle.{fmt}"] = fp.value()
        fp = Fingerprint()
        with zf.open("output.json") as raw:
            for line in io.TextIOWrapper(raw, "utf-8"):
                if line.strip():
                    fp.add(_canon(json.loads(line)))
        out["bundle.json"] = fp.value()
        out["bundle.metadata"] = json.loads(zf.read("metadata.json"))["record_count"]
    return out


def _api_stats(api: str) -> dict:
    import urllib.request

    with urllib.request.urlopen(f"{api}/_stats", timeout=10) as r:
        return json.loads(r.read())


class Workload:
    imports = ("small_etl_spark.plans.spec", "small_etl_spark.plans.sequencer")

    def __init__(self, spark, plan: dict, tracer):
        self.spark = spark
        self.plan = plan
        self.tracer = tracer
        _api_stats(plan["api"])  # start a fresh counting interval

    def trace_patches(self) -> list[tuple]:
        seq = "small_etl_spark.plans.sequencer"
        return [
            (seq, "execute_pipeline", "plans", lambda a, k: f"stage:{a[1].name}"),
            (seq, "write_outputs", "sinks.files", None),
            (seq, "zip_output_dir", "sinks.files", None),
            ("small_etl_spark.sources.http", "parameterized_http_fanout",
             "sources.http", None),
        ]

    def run_pass(self, pass_id: int, timer) -> dict:
        from small_etl_spark.plans.sequencer import run_sequence
        from small_etl_spark.plans.spec import sequence_from_toml

        out_root = os.path.join(self.plan["out_root"], f"p{pass_id}")
        ops: list[dict] = []
        ctx, err = None, ""
        with timer:
            try:
                with self.tracer.span("sequence_from_toml", "plans"):
                    seq = sequence_from_toml(self.plan["toml"])
                with self.tracer.span("run_sequence", "plans"):
                    ctx = run_sequence(self.spark, seq, output_root=out_root)
            except Exception as exc:  # noqa: BLE001 - a failed pass is a counted failure
                err = f"{type(exc).__name__}: {exc}"[:300]
        # ---- untimed: collect op latencies, check outputs, release
        checks: list[dict] = []
        layer: dict = {}
        if ctx is None:
            done = 0
        else:
            done = len(ctx.results)
            for r in ctx.results:
                ops.append({"kind": "stage", "name": r.pipeline_name,
                            "s": r.duration_s, "ok": bool(r.success)})
            zip_path = ctx.results[-1].output_path
            try:
                got = zip_fingerprints(zip_path)
            except (OSError, TypeError, KeyError, ValueError, zipfile.BadZipFile) as exc:
                ops[-1].update(ok=False, error=f"unreadable ZIP output: {exc!r}"[:300])
            else:
                for name, value in got.items():
                    checks.append({"name": name, "value": value, "op": len(ops) - 1})
                zip_mb = os.path.getsize(zip_path) / 2**20
                layer["files.zip_mb"] = zip_mb
                layer["files.output_mb"] = dir_mb(os.path.dirname(zip_path)) - zip_mb
            for r in ctx.results:
                r.df.unpersist()
        for name in STAGES[done:]:
            ops.append({"kind": "stage", "name": name, "s": 0.0, "ok": False,
                        "error": err if ctx is None else "not run"})
        stats = _api_stats(self.plan["api"])
        wall = None
        if stats["first_start"] is not None:
            wall = stats["last_end"] - stats["first_start"]
        layer.update({
            "http.requests": stats["requests"],
            "http.requests_per_key": stats["requests"] / max(stats["keys"], 1),
            "http.connections_per_request": stats["connections"] / max(stats["requests"], 1),
            "http.max_inflight": stats["max_inflight"],
            "http.fanout_wall_s": wall or 0.0,
            "http.requests_per_s": stats["requests"] / wall if wall else 0.0,
        })
        stored_mb = dir_mb(out_root)
        shutil.rmtree(out_root, ignore_errors=True)
        return {"ops": ops, "checks": checks, "layer": layer, "stored_mb": stored_mb}


def layer_from_spans(spans, self_time) -> dict:
    """Per-pass layer numbers of one traced pass."""
    out = {"files.write_s": 0.0, "files.zip_s": 0.0}
    for s in spans:
        if s.name == "sequence_from_toml":
            out["plans.parse_s"] = s.duration
        elif s.name == "run_sequence":
            out["plans.sequence_s"] = s.duration
        elif s.name.startswith("stage:"):
            out[f"plans.stage_s.{s.name[6:]}"] = self_time[s.span_id]
        elif s.name == "write_outputs":
            out["files.write_s"] += s.duration
        elif s.name == "zip_output_dir":
            out["files.zip_s"] += s.duration
    return out
