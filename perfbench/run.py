"""Seeded benchmark of the attribution engine.

    python3 perfbench/run.py --workload batch_attribution --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed`` under a scratch directory inside the checkout, starts one
local Spark session with one executor thread per available core,
warms up, then runs timed operations of the workload, closed-loop and
one at a time, until ``--seconds`` of operation time have been
measured.  Every operation's output is then checked against the DuckDB
oracle.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "marketing_attribution_etl_framework__maef_spark"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "input_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")
PER_LAYER = {
    "session.start_s": "s",
    "domain.scan_s": "s",
    "domain.rows_in": "count",
    "journeys.plan_s": "s",
    "journeys.exec_s": "s",
    "journeys.rows_out": "count",
    "journeys.fanout": "rows/conv",
    "attribution.plan_s": "s",
    "attribution.exec_s": "s",
    "attribution.rows_out": "count",
    "reporting.plan_s": "s",
    "reporting.exec_s": "s",
    "reporting.rows_out": "count",
    "pipeline.check_s": "s",
    "pipeline.stage_write_s": "s",
    "loader.upsert_s": "s",
    "io.bytes_written": "bytes",
    "io.write_amp": "ratio",
    "incremental.batch_s": "s",
    "incremental.state_bytes": "bytes",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "dedup.signature_s": "s",
    "dedup.candidates": "count",
    "dedup.verify_s": "s",
    "dedup.pairs": "count",
    "dedup.candidate_precision": "ratio",
    "dedup.cluster_s": "s",
    "dedup.survivor_s": "s",
    "dedup.planted_recall": "ratio",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.task_run_s": "s/op",
    "spark.task_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_write_bytes": "bytes/op",
    "spark.spill_bytes": "bytes/op",
    "spark.idle_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def pin_environment(run_dir: str, trace: bool) -> int:
    """Size the session to this host and keep every file it writes
    under ``run_dir``; must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "warehouse", "scratch", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            # Spark's default driver size; the inputs are small
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "SPARK_GRAFT_SCRATCH": dirs["scratch"],
            "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "TMPDIR": dirs["tmp"],
        }
    )
    # the heap is committed and touched up front: left to grow, G1's
    # adaptive sizing moved peak RSS by 0.21 of its median between runs
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in submit) + " pyspark-shell"
    return cpus


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail_note(times: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(times)
    if n < 11:
        return f"tail: n={n} ops, fewer than 11, no percentile has 10 samples beyond it; max={max(times, default=0):.4f}s"
    k = n - 10
    return f"tail: p{100 * k / n:.1f}={sorted(times)[k - 1]:.4f}s over n={n} ops"


def run(args, run_dir: str, t_start: float) -> tuple[dict, list[str], int]:
    cpus = pin_environment(run_dir, bool(args.trace))
    from perfbench import spans as tr
    from perfbench import workloads

    W = workloads.WORKLOADS[args.workload]
    inputs = os.path.join(run_dir, "inputs")
    g0 = time.perf_counter()
    sizes = W.prepare(inputs, args.seed, args.scale)
    gen_s = time.perf_counter() - g0

    tracer = tr.Tracer()
    with tracer.span("session.start"):
        from marketing_attribution_etl_framework__maef_spark.session import get_spark

        spark = get_spark("perfbench")
    sc = spark.sparkContext
    info: list[str] = []
    try:
        wl = W(spark, tracer, os.path.join(run_dir, "work"), inputs, args.scale)
        wl.setup()
        sc.setJobGroup(f"{wl.name}.warmup", "warmup")
        wl.warmup()
        setup_s = time.perf_counter() - t_start - gen_s

        times: dict[int, float] = {}
        rows: dict[int, int] = {}
        raised: set[int] = set()
        measured, i = 0.0, 0
        steal0 = tr.cpu_ticks()
        # a traced run needs one untraced and one traced operation at least
        while measured < args.seconds or (args.trace and i < 2):
            traced = bool(args.trace) and i % 2 == 1
            sc.setJobGroup(f"{wl.name}.{'op_traced' if traced else 'op'}", f"op {i}")
            a = time.perf_counter()
            try:
                if traced:
                    wl.traced_ops[i] = f"op-{i}"
                    with tracer.instrument(wl.patches(), f"op-{i}"), tracer.span("op"):
                        n = wl.op(i, tracer)
                else:
                    n = wl.op(i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                raised.add(i)
                n = 0
            dt = time.perf_counter() - a
            if n is None:
                wl.traced_ops.pop(i, None)
                break
            times[i], rows[i] = dt, n
            measured += dt
            sc.setJobGroup(f"{wl.name}.capture", f"capture {i}")
            try:
                wl.capture(i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                raised.add(i)
            for sp in tracer.of_run(wl.traced_ops.get(i, "")):
                sp.attrs.pop("result", None)  # release the op's DataFrames
            i += 1
            if len(raised) >= 3:
                break  # a broken engine fails fast; stop instead of spinning
        n_ops = i
        steal = [b - a for a, b in zip(steal0, tr.cpu_ticks())]
        rss = tr.peak_rss_mb()
        untraced = [j for j in range(n_ops) if j not in wl.traced_ops]
        op_groups = [f"{wl.name}.op"] + [r for r, ph in wl.run_ids.items() if ph == "op"]
        status = tr.status_counts(sc, op_groups) if args.trace else {}
    finally:
        stop_spark(spark)

    c0 = time.perf_counter()
    try:
        verdicts, notes = wl.check(n_ops)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        verdicts, notes = [False] * n_ops, ["checks raised"]
    ok = [verdicts[j] and j not in raised for j in range(n_ops)]
    n_failed = ok.count(False)
    good = [j for j in range(n_ops) if ok[j]]

    info.append(f"workload={wl.name} seed={args.seed} seconds={args.seconds} trace={args.trace} cpus={cpus}")
    info.append(
        f"wall: generate {gen_s:.2f}s, setup {setup_s:.2f}s, measured {measured:.2f}s, "
        f"checks {time.perf_counter() - c0:.2f}s, total {time.perf_counter() - t_start:.2f}s"
    )
    info.append("inputs: " + json.dumps({k: v for k, v in sizes.items() if not isinstance(v, (list, str))}))
    info.append(f"host steal while measuring: {steal[0] / max(steal[1], 1):.4f} of CPU time")
    info.append("peak rss MB by pid: " + " ".join(f"{p}={v:.1f}" for p, v in rss.items()))
    info.append(f"ops: attempted={n_ops} failed={n_failed} ops_failed_frac={n_failed / max(n_ops, 1):.4f}")
    info.append("op_s: " + " ".join(f"{times[j]:.4f}{'*' if j in wl.traced_ops else ''}" for j in range(n_ops)))
    info.append(tail_note([times[j] for j in good if j not in wl.traced_ops]))
    info += notes

    if not args.trace:
        base = [j for j in good if j not in wl.traced_ops]
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times[j] for j in base) if base else 0.0,
            "input_rows_per_s": statistics.median(rows[j] / times[j] for j in base) if base else 0.0,
            "peak_rss_mb": sum(rss.values()),
        }
        units = END_TO_END
    else:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics["session.start_s"] = tracer.total("session.start")
        metrics.update(wl.layer_metrics())
        group_of = {r: f"{wl.name}.{ph}" for r, ph in wl.run_ids.items()}
        events = tr.reduce_event_log(os.path.join(run_dir, "eventlog"), lambda g: group_of.get(g, g))
        ev = events.get(f"{wl.name}.op", {})
        n_base = max(len(untraced), 1)
        for k in SPARK_COUNTERS:
            metrics[f"spark.{k}"] = (status.get(k) if k in status else ev.get(k, 0)) / n_base
        wall = sum(times[j] for j in untraced)
        metrics["spark.idle_frac"] = 1.0 - ev.get("task_run_s", 0.0) / (cpus * wall) if wall else 0.0
        t_med = statistics.median([times[j] for j in wl.traced_ops] or [0.0])
        u_med = statistics.median([times[j] for j in untraced] or [0.0])
        metrics["trace.overhead_frac"] = t_med / u_med - 1.0 if u_med else 0.0
        units = PER_LAYER
        selft = tracer.self_times()
        info.append(
            f"tracing overhead: traced op p50 {t_med:.4f}s vs untraced op p50 {u_med:.4f}s in this run "
            f"({metrics['trace.overhead_frac']:+.3f}); the event log is on for both"
        )
        info.append("per-layer self time over the traced ops:\n" + tr.format_table(selft))
        info.append("event log per job group:\n" + "\n".join(f"  {g}: {json.dumps(v)}" for g, v in sorted(events.items())))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json"), "w") as fh:
            json.dump(
                {
                    "workload": wl.name,
                    "seed": args.seed,
                    "spans": tracer.dump(),
                    "self_time": selft,
                    "event_log": events,
                    "status_tracker": status,
                    "op_s": times,
                    "traced_ops": sorted(wl.traced_ops),
                    "metrics": metrics,
                },
                fh,
                indent=1,
            )

    result = {
        "correct": n_ops > 0 and n_failed == 0,
        "attempted": max(n_ops, 1),
        "failed": n_failed if n_ops else 1,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, info, 0 if result["correct"] else 1


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import spans as tr
    from perfbench import workloads

    t_start = time.perf_counter() - tr.process_age_s()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full", help="input size; tiny is for the smoke test")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")) or not os.path.isfile(os.path.join(ROOT, "oracles.py")):
        print(f"perfbench: the engine package {ENGINE} and oracles.py must sit beside perfbench/", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        result, info, code = run(args, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in info:
        print("# " + line.replace("\n", "\n# "))
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
