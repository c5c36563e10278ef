#!/usr/bin/env python3
"""Benchmark of small_etl_spark: the sequence_etl and lakehouse_dml
workloads (traced lakehouse_dml runs also sweep the headline queries).

    python3 perfbench/run.py --workload sequence_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The package is driven as a black box
from separate processes on ``local[<cores>]``, one closed-loop client:
two fresh processes measure set-up concurrently, then one of them
runs a cold pass, an untimed warm-up pass, and measured passes for
``--seconds`` seconds of measured work (at least three). Outputs are
checked against DuckDB outside the timed region.
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``); the lines above
it print every metric by name with its unit. A layer the workload does
not exercise reports 0 for its per-layer metrics.

Generated tables are cached under ``.perfbench/data``; each run works
in its own directory under ``.perfbench/runs`` and removes it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("sequence_etl", "lakehouse_dml")
SETUP_PROCESSES = 2
OP_PASSES = 3  # measured passes whose operations give op_p50_s / op_tail_s
DEADLINE_S = 160  # the worker processes of one run
JVM_HEAP = "1g"
LAYERS = ("plans", "sources.http", "sinks.files", "sinks.versioned", "sql", "queries")
VERSIONED_OPS = ("commit", "append", "merge_clustered", "merge_scattered",
                 "delete", "update", "point_read", "time_travel")


def _bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _measured(passes: list[dict], traced: bool | None = None) -> list[dict]:
    """The passes that are neither the cold pass nor a warm-up pass;
    with ``traced`` given, only the traced or only the untraced ones."""
    return [p for p in passes if not p["cold"] and not p["warmup"]
            and (traced is None or p["traced"] == traced)]


def op_latencies(measured: list[dict]) -> list[float]:
    """Latencies of the operations of the first OP_PASSES measured passes.

    A fixed number of passes keeps the sample count, and with it the
    tail percentile, the same however fast the program runs."""
    return [op["s"] for p in measured[:OP_PASSES] for op in p["ops"] if op["ok"]]


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten of ``n`` samples
    above it; 100 (the maximum) when there are fewer than 20, where
    that percentile would fall below the median."""
    return int(100 * (1 - 10 / n)) if n >= 20 else 100


def percentile(xs: list[float], p: int) -> float:
    """Nearest-rank percentile: a sample, never a blend of two, so a
    tail between cheap and expensive operations does not straddle them."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


class Procs:
    """Every child process of the run; ``kill_all`` on deadline or error."""

    def __init__(self) -> None:
        self.procs: list[subprocess.Popen] = []
        self.lock = threading.Lock()

    def spawn(self, cmd: list[str], env: dict, log, stdin=None, stdout=None):
        with self.lock:
            p = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdin=stdin, stdout=stdout,
                stderr=log, text=True,
            )
            self.procs.append(p)
            return p

    def kill_all(self) -> None:
        with self.lock:
            for p in self.procs:
                if p.poll() is None:
                    p.kill()
            for p in self.procs:
                try:
                    p.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    pass


def _env(run_dir: str, cores: int) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # a fixed-size heap: resident memory then depends far less on
        # when the collector decides to grow the heap
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{JVM_HEAP}",
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYTHONPATH": ROOT,
    })
    return env


def run_workers(args, wmod, plan_path: str, run_dir: str, cores: int) -> tuple[dict, list]:
    env = _env(run_dir, cores)
    procs = Procs()
    timer = threading.Timer(DEADLINE_S, procs.kill_all)
    timer.daemon = True
    timer.start()
    log_path = os.path.join(run_dir, "workers.log")
    try:
        with open(log_path, "w") as log:
            base = [sys.executable, "-m", "perfbench.worker",
                    "--workload", args.workload, "--plan", plan_path,
                    "--cores", str(cores)]
            outs = [os.path.join(run_dir, f"setup{i}.json") for i in range(1, SETUP_PROCESSES)]
            main_out = os.path.join(run_dir, "main.json")
            spans = os.path.join(ROOT, ".perfbench", f"spans_{args.workload}.jsonl")
            t = time.time()
            main = procs.spawn(
                base + ["--mode", "main", "--t-spawn", repr(t), "--out", main_out,
                        "--seconds", str(args.seconds), "--trace", str(args.trace),
                        "--spans", spans],
                env, log, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            )
            helpers = [
                procs.spawn(base + ["--mode", "setup", "--t-spawn", repr(time.time()),
                                    "--out", out], env, log)
                for out in outs
            ]
            ready = main.stdout.readline().strip()
            codes = [h.wait() for h in helpers]
            if ready != "READY" or any(codes):
                raise RuntimeError(f"set-up failed (main: {ready!r}, helpers: {codes})")
            main.stdin.write("GO\n")
            main.stdin.flush()
            main.stdin.close()
            main.stdout.read()
            if main.wait() != 0:
                raise RuntimeError(f"worker exited with {main.returncode}")
    except BaseException:
        procs.kill_all()
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise
    finally:
        timer.cancel()
    with open(main_out) as f:
        result = json.load(f)
    setups = [result["setup"]]
    for out in outs:
        with open(out) as f:
            setups.append(json.load(f)["setup"])
    return result, setups


# ---------------------------------------------------------------------------
# checking and metrics
# ---------------------------------------------------------------------------


def judge(result: dict, expected: dict) -> tuple[int, int, list[str]]:
    """Mark ops whose output failed its check; return (attempted,
    failed, problems)."""
    problems = []
    passes = result["passes"]

    def mismatch(chk) -> bool:
        want = expected.get(chk["name"])
        if want != chk["value"]:
            problems.append(f"{chk['name']}: expected {want!r}, got {chk['value']!r}"[:400])
            return True
        return False

    for p in passes:
        for chk in p["checks"]:
            if mismatch(chk):
                p["ops"][chk["op"]]["ok"] = False
    ops = [op for p in passes for op in p["ops"]]
    for op in ops:
        if not op["ok"] and op.get("error"):
            problems.append(f"{op['name']}: {op['error']}")
    return len(ops), sum(not op["ok"] for op in ops), problems


def end_to_end(result: dict, setups: list[dict]) -> tuple[dict, dict]:
    passes = result["passes"]
    warm = _measured(passes, traced=False)
    lat = op_latencies(warm)
    pct = tail_percentile(len(lat))
    metrics = {
        "setup_s": _median(s["setup_s"] for s in setups),
        "pass_s": _median(p["s"] for p in warm),
        "op_p50_s": _median(lat),
        "op_tail_s": percentile(lat, pct) if lat else 0.0,
        "write_mb": _median(p["write_mb"] for p in warm),
        "peak_rss_mb": max(p["peak_rss_mb"] for p in passes),
    }
    notes = {
        "op_tail_s": f"p{pct} of {len(lat)} operations",
        "pass_s": f"median of {len(warm)} measured passes",
        "setup_s": f"median of {len(setups)} concurrent set-ups",
    }
    return metrics, notes


def per_layer(result: dict, setups: list[dict], names: list[str]) -> tuple[dict, dict]:
    sweep = [p for p in result["passes"] if p.get("sweep")]
    passes = [p for p in result["passes"] if not p.get("sweep")]
    warm = _measured(passes)
    untraced = [p for p in warm if not p["traced"]]
    traced = [p for p in warm if p["traced"]]
    out: dict[str, float] = {}
    for k in ("session.import_s", "session.start_s", "session.first_action_s"):
        out[k] = _median(s[k] for s in setups)
    out["cold_pass_s"] = passes[0]["s"]
    keys = {k for p in warm for k in p["layer"]}
    for k in keys:
        vals = []
        for p in warm:
            v = p["layer"].get(k)
            vals.extend(v if isinstance(v, list) else [] if v is None else [v])
        out[k] = _median(vals)
    ops = [op for p in warm for op in p["ops"] if op["ok"]]
    for kind in VERSIONED_OPS:
        out[f"versioned.{kind}_s"] = _median(op["s"] for op in ops if op["kind"] == kind)
    for k in ("driver.cpu_s", "jvm.cpu_s", "workers.cpu_s"):
        out[k] = _median(p[k] for p in untraced)
    for layer in LAYERS:
        out[f"self_s.{layer}"] = _median(p.get("self_s", {}).get(layer, 0.0) for p in traced)
    for p in sweep:
        out.update(p["layer"])
    out["trace.overhead_s"] = (
        _median(p["s"] for p in traced) - _median(p["s"] for p in untraced)
    )
    notes = {"trace.overhead_s": f"{len(traced)} traced vs {len(untraced)} untraced passes"}
    # a layer this workload does not exercise reports zero work
    return {n: float(out.get(n, 0.0)) for n in names}, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="corrupt one expected value (the self-test's negative case)")
    args = ap.parse_args(argv)
    # a terminated run still stops its worker processes (see run_workers)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "small_etl_spark", "__init__.py")):
        print("perfbench: the small_etl_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    import importlib

    from perfbench.data import ensure_tables
    from perfbench.mockapi import MockApi

    config = _bench_config()
    wmod = importlib.import_module(f"perfbench.workloads.{args.workload}")
    cores = len(os.sched_getaffinity(0))
    sf_dir = ensure_tables(ROOT, args.sf or wmod.SF)
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    api = None
    try:
        if args.workload == "sequence_etl":
            api = MockApi(wmod.SERVICE_S, max_handlers=cores).start()
        plan = wmod.plan(args.seed, sf_dir, run_dir, api.base_url if api else None)
        expected = plan["expected"]
        if args.trace and args.workload == "lakehouse_dml":
            from perfbench.workloads import queries

            plan["queries"] = queries.plan(args.seed, sf_dir)
            expected.update(plan["queries"]["expected"])
        if args.wrong_expected:
            name = sorted(expected)[0]
            expected[name] = ["deliberately wrong", expected[name]]
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        result, setups = run_workers(args, wmod, plan_path, run_dir, cores)
    finally:
        if api is not None:
            api.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, problems = judge(result, expected)
    if args.trace:
        specs = config["per_layer"]
        metrics, notes = per_layer(result, setups, [m["name"] for m in specs])
    else:
        specs = config["end_to_end"]
        metrics, notes = end_to_end(result, setups)
    units = {m["name"]: m["unit"] for m in specs}
    for p in problems[:20]:
        print(f"CHECK FAILED {p}")
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  "
          f"trace {args.trace}  passes {len(result['passes'])}")
    for name, value in metrics.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"  {name:48s} {value:14.6f} {units[name]}{note}")
    print(f"  {'fail_ratio':48s} {failed / attempted:14.6f} ratio  "
          f"({failed} of {attempted} operations)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in metrics},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
