"""One Spark process of a benchmark run.

``--mode setup`` measures set-up only (imports, ``get_spark``, one
trivial action) and exits. ``--mode main`` measures set-up, then waits
for ``GO`` on stdin (so the orchestrator can finish other set-up
measurements first), runs the cold pass, ``WARMUP_PASSES`` untimed
warm-up passes (the JIT is still compiling through them) and then measured
passes until ``--seconds`` seconds of measured work and at least
``MIN_MEASURED_PASSES`` passes are done. It runs the untimed output
checks and writes everything it measured to ``--out`` as JSON.

With ``--trace 1`` the measured passes alternate untraced and traced;
the traced ones carry spans and Spark status-store deltas, and the
difference between the two kinds is the tracing overhead.
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys
import time

WARMUP_PASSES = 1
# a median of three is robust to one pass still on the warm-up curve
MIN_MEASURED_PASSES = 3


class PassTimer:
    def __enter__(self):
        self.start_wall = time.time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
        self.end_wall = time.time()
        return False


def _setup(workload_mod, t_spawn: float) -> tuple[object, dict]:
    for mod in ("small_etl_spark.session", *workload_mod.Workload.imports):
        importlib.import_module(mod)
    t_imported = time.time()
    from small_etl_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload_mod.NAME}")
    t_started = time.time()
    spark.range(1).count()
    t_ready = time.time()
    return spark, {
        "setup_s": t_ready - t_spawn,
        "session.import_s": t_imported - t_spawn,
        "session.start_s": t_started - t_imported,
        "session.first_action_s": t_ready - t_started,
        "walls": [t_spawn, t_imported, t_started, t_ready],
    }


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when the
    gateway's stdin closes), so no process outlives the run."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _exec_metrics(interval, start: float, end: float, cores: int) -> dict:
    from perfbench.meters import MB, busy_seconds

    jobs = interval.jobs_within(start, end)
    t = interval.totals(jobs)
    wall = end - start
    return {
        "exec.jobs": len(jobs),
        "exec.stages": t.stages,
        "exec.tasks": t.tasks,
        "exec.task_s": t.task_ms / 1000,
        "exec.cpu_s": t.cpu_ns / 1e9,
        "exec.gc_s": t.gc_ms / 1000,
        "exec.core_util": t.task_ms / 1000 / (wall * cores) if wall > 0 else 0.0,
        "exec.driver_gap_s": wall - busy_seconds(jobs, start, end),
        "exec.shuffle_write_mb": t.shuffle_write_bytes / MB,
        "exec.shuffle_read_mb": t.shuffle_read_bytes / MB,
        "exec.spill_mb": (t.spill_bytes + t.disk_spill_bytes) / MB,
        "scan.input_mb": t.input_bytes / MB,
        "scan.input_rows": t.input_rows,
    }


def _span_exec(spans, interval) -> None:
    for s in spans:
        t = interval.totals(interval.jobs_within(s.start, s.end))
        s.exec = {"stages": t.stages, "tasks": t.tasks, "task_s": t.task_ms / 1000,
                  "shuffle_write_bytes": t.shuffle_write_bytes}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--plan", required=True)
    ap.add_argument("--mode", choices=("setup", "main"), required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args(argv)

    wmod = importlib.import_module(f"perfbench.workloads.{args.workload}")
    spark, setup = _setup(wmod, args.t_spawn)
    if args.mode == "setup":
        with open(args.out, "w") as f:
            json.dump({"setup": setup}, f)
        _stop(spark)
        return 0

    print("READY", flush=True)
    if sys.stdin.readline().strip() != "GO":
        _stop(spark)
        return 3

    from perfbench.meters import ProcMeter, StatusMeter
    from perfbench.trace import Tracer, self_times

    with open(args.plan) as f:
        plan = json.load(f)
    tracer = Tracer()
    if args.trace:
        t = setup["walls"]
        for name, start, end in (("import", t[0], t[1]), ("get_spark", t[1], t[2]),
                                 ("first_action", t[2], t[3])):
            tracer.record(name, "session", start, end)
    workload = wmod.Workload(spark, plan, tracer)
    status = StatusMeter(spark) if args.trace else None
    proc = ProcMeter().start()
    passes = []
    measured = 0.0
    pass_id = 0
    try:
        while measured < args.seconds or pass_id <= WARMUP_PASSES + MIN_MEASURED_PASSES:
            # k counts measured passes from 1; the even ones are traced
            k = pass_id - WARMUP_PASSES
            traced = bool(args.trace) and k > 0 and k % 2 == 0
            tracer.enabled, tracer.pass_id = traced, pass_id
            if traced:
                for patch in workload.trace_patches():
                    tracer.patch(*patch)
            before = proc.sample()
            proc.take_peak()
            timer = PassTimer()
            res = workload.run_pass(pass_id, timer)
            peak = proc.take_peak()
            after = proc.sample()
            tracer.unpatch()
            tracer.enabled = False
            rec = {
                "pass_id": pass_id,
                "cold": pass_id == 0,
                "warmup": 0 < pass_id <= WARMUP_PASSES,
                "traced": traced,
                "s": timer.seconds,
                "peak_rss_mb": peak,
                # bytes the pass left in storage; /proc's count of every
                # write (shuffle and temporary files too) is per-layer
                "write_mb": res.pop("stored_mb"),
                "driver.cpu_s": after.driver_cpu_s - before.driver_cpu_s,
                "jvm.cpu_s": after.jvm_cpu_s - before.jvm_cpu_s,
                "workers.cpu_s": after.workers_cpu_s - before.workers_cpu_s,
                **res,
            }
            rec["layer"]["io.write_mb"] = (after.write_bytes - before.write_bytes) / 2**20
            rec["layer"]["host.steal_s"] = after.steal_s - before.steal_s
            if status is not None:
                interval = status.read()
                rec["layer"].update(
                    _exec_metrics(interval, timer.start_wall, timer.end_wall, args.cores)
                )
                if traced:
                    spans = tracer.pass_spans(pass_id)
                    _span_exec(spans, interval)
                    selft = self_times(spans)
                    if hasattr(wmod, "layer_from_spans"):
                        rec["layer"].update(wmod.layer_from_spans(spans, selft))
                    by_layer: dict[str, float] = {}
                    for s in spans:
                        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + selft[s.span_id]
                    rec["self_s"] = by_layer
            passes.append(rec)
            if pass_id > WARMUP_PASSES:
                measured += timer.seconds
            pass_id += 1
        if args.trace and "queries" in plan:
            from perfbench.workloads import queries

            tracer.enabled, tracer.pass_id = True, -2
            res = queries.sweep(spark, plan["queries"], tracer)
            tracer.enabled = False
            spans = tracer.pass_spans(-2)
            _span_exec(spans, status.read())
            res["layer"]["self_s.queries"] = sum(self_times(spans).values())
            passes.append({"pass_id": -2, "cold": False, "warmup": False, "traced": True,
                           "sweep": True, **res})
    finally:
        proc.close()
        if args.spans and tracer.spans:
            tracer.write(args.spans)
    with open(args.out, "w") as f:
        json.dump({"setup": setup, "passes": passes}, f)
    _stop(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
