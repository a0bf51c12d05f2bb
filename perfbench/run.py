#!/usr/bin/env python3
"""Benchmark of the extraction and curation engine: one workload, one seed.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The engine runs in this process on
``local[nproc]``. With ``--trace 0`` it prints every end-to-end metric;
with ``--trace 1`` it makes an untraced, a traced and another untraced
job call plus the layer passes, and prints every per-layer metric. The
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line
before it names the record file (host facts, busy-loop probes, every
operation, and for each layer metric the end-to-end metric and
workloads it should move). Inputs are cached and every output is
written under ``.bench_build/perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as the ``perfbench`` package, never its modules
# by bare name
sys.path[0] = ROOT

from perfbench import host  # noqa: E402

JOB_GROUP = "perfbench-traced"


def _isolate_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and let workers import the engine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the driver JVM, and the launcher JVM spark-submit runs first
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = " ".join(
            p
            for p in (os.environ.get(var), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
            if p
        )


def _start_spark(master: str, event_log_dir: str | None):
    from win64_local_ocr_tool_spark.session import get_spark

    conf = {}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        }
    return get_spark("perfbench", master=master, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    JVM started (the PySpark daemon and its workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    children = list(host.tree_stats(proc.pid)) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _run_op(wl, ctx, i: int, tracer=None) -> dict:
    """One timed job call and its output check (untimed)."""
    sc = ctx.spark.sparkContext
    if tracer is not None:
        sc.setJobGroup(JOB_GROUP, "traced job call")
    result, error = None, None
    with host.TreeMeter() as meter, (
        tracer.layers() if tracer is not None else contextlib.nullcontext()
    ):
        t0 = time.monotonic()
        try:
            result = wl.op(ctx, i, tracer)
        except Exception:
            error = traceback.format_exc()
        wall = time.monotonic() - t0
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec = {"wall_s": wall, "cpu_s": meter.cpu_s, "peak_rss_mb": meter.peak_rss_mb}
    if error is None:
        try:
            rec["ops"], rec["failed"] = wl.check(ctx, i, result)
        except Exception:
            error = traceback.format_exc()
    if error is not None:
        print(error, file=sys.stderr)
        rec.update(ops=1, failed=1, error=error.splitlines()[-1])
    rec["result"] = result
    return rec


def _listed_names(workload: str) -> tuple[list[str], list[str]]:
    """Metric names as ``BENCHMARK.json`` lists them when it lists this
    workload, else every metric the benchmark knows."""
    from perfbench.metrics import END_TO_END, PER_LAYER

    e2e = [m[0] for m in END_TO_END]
    layer = [m[0] for m in PER_LAYER]
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        with open(path) as f:
            spec = json.load(f)
        if workload not in {w["name"] for w in spec["workloads"]}:
            return e2e, layer
        want_e2e = [m["name"] for m in spec["end_to_end"]]
        want_layer = [m["name"] for m in spec["per_layer"]]
        unknown = sorted(set(want_e2e) - set(e2e)) + sorted(set(want_layer) - set(layer))
        if unknown:
            raise SystemExit(f"perfbench: BENCHMARK.json names unknown metrics {unknown}")
        return want_e2e, want_layer
    return e2e, layer


def run(args, base: str, run_dir: str, run_id: str) -> tuple[dict, dict]:
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.spans import Tracer, event_log_metrics
    from perfbench.workloads import WORKLOADS, Ctx

    e2e_names, layer_names = _listed_names(args.workload)
    master = f"local[{host.nproc()}]"
    record: dict = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "host": host.host_facts(master),
    }
    steal0 = host.steal_ticks()
    probe_pre = host.busy_loop_tasks_per_s()
    wl = WORKLOADS[args.workload]()
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    ops = []
    traced_op = None
    layers: dict[str, float] = {}
    spark = None
    # inputs are made (or found in the cache) before the session starts,
    # so generating one leaves the JVM as cold as a cache hit does
    gen_s = wl.make_inputs(os.path.join(base, "cache"), args.seed, host.nproc())
    try:
        # one set-up: session start (the JVM with it), the input handles
        # and the workload's checked warm-up calls, if it has any
        t0 = time.monotonic()
        spark = _start_spark(master, event_dir)
        started = time.monotonic() - t0
        ctx = Ctx(spark, args.seed, run_dir)
        wl.prepare(ctx)
        try:
            untimed = dict(zip(("ops", "failed"), wl.warmup(ctx)))
        except Exception:
            print(traceback.format_exc(), file=sys.stderr)
            untimed = {"ops": 1, "failed": 1}
        setup = {
            "setup_s": time.monotonic() - t0,
            "session_start_s": started,
            "gen_s": gen_s,
        }
        if args.trace:
            # after the set-up: untraced (the session's first call where
            # the workload has no warm-up), traced, untraced; the tracing
            # overhead compares the traced call with the one after it
            tracer = Tracer(run_id)
            ops.append(_run_op(wl, ctx, 0))
            traced = traced_op = _run_op(wl, ctx, 1, tracer)
            ops.append(traced)
            ops.append(_run_op(wl, ctx, 2))
            untraced_wall = ops[2]["wall_s"]
            layers.update(
                {
                    "lineage.append_s": tracer.total_s("lineage.append_lineage"),
                    "lineage.fingerprint_s": tracer.total_s("lineage.content_fingerprint"),
                    "lineage.read_s": tracer.total_s("lineage.read_lineage"),
                    "lineage.done_keys_s": tracer.total_s("lineage.done_keys"),
                    "trace.overhead_s": traced["wall_s"] - untraced_wall,
                }
            )
            if "error" not in traced:
                # layer passes after the traced call; a pass whose output
                # check fails counts as one failed operation
                untimed["ops"] += 1
                try:
                    wl.layers(ctx, 1, traced["result"], tracer, traced["wall_s"], layers)
                except Exception:
                    print(traceback.format_exc(), file=sys.stderr)
                    untimed["failed"] += 1
            tracer.write(os.path.join(base, "traces", f"{run_id}.json"))
        else:
            # timed calls until their wall time adds up to --seconds or
            # the workload's call limit (the loop's own clock caps it
            # when calls fail fast); the metrics are their medians
            i, measured, t_loop = 0, 0.0, time.monotonic()
            while i == 0 or (
                (wl.max_calls is None or i < wl.max_calls)
                and measured < args.seconds
                and time.monotonic() - t_loop < 3 * args.seconds
            ):
                ops.append(_run_op(wl, ctx, i))
                shutil.rmtree(ctx.op_dir(i), ignore_errors=True)
                measured += ops[-1]["wall_s"]
                i += 1
    finally:
        if spark is not None:
            _stop_spark(spark)
    if args.trace:
        layers.update(event_log_metrics(event_dir, JOB_GROUP))
    probe_post = host.busy_loop_tasks_per_s()

    attempted = sum(o["ops"] for o in ops) + untimed["ops"]
    failed = sum(o["failed"] for o in ops) + untimed["failed"]
    walls = [o["wall_s"] for o in ops]
    units = wl.units()
    values = {
        "wall_s": statistics.median(walls),
        "docs_per_s": statistics.median(units / w for w in walls),
        "cpu_s": statistics.median(o["cpu_s"] for o in ops),
        "setup_s": setup["setup_s"],
        "ok_ratio": (attempted - failed) / attempted,
        "output_ok": 0 if failed else 1,
    }
    layers.update(
        {
            "peak_rss_mb": statistics.median(
                o["peak_rss_mb"] for o in ops if o is not traced_op
            ),
            "session.start_s": setup["session_start_s"],
            "corpus.gen_s": setup["gen_s"],
            "hw.busy_loop_tasks_per_s.pre": probe_pre,
            "hw.busy_loop_tasks_per_s.post": probe_post,
        }
    )
    if args.trace:
        spec = {m[0]: m for m in PER_LAYER}
        metrics = {
            n: {"value": layers.get(n, 0), "unit": spec[n][1]} for n in layer_names
        }
        annotated = {
            n: {**metrics[n], "moves": spec[n][3], "on": list(spec[n][4])}
            for n in layer_names
        }
    else:
        units_of = {m[0]: m[1] for m in END_TO_END}
        metrics = {n: {"value": values[n], "unit": units_of[n]} for n in e2e_names}
        annotated = metrics
    record.update(
        {
            "busy_loop_tasks_per_s": {"pre": probe_pre, "post": probe_post},
            "steal_s": (host.steal_ticks() - steal0) / host.CLK_TCK,
            "setup": setup,
            "shares": {k: v for k, v in layers.items() if k.startswith("share.")},
            "ops": [{k: v for k, v in o.items() if k != "result"} for o in ops],
            "checked_untimed": untimed,
            "samples": len(ops),
            "metrics": annotated,
        }
    )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "win64_local_ocr_tool_spark", "pipeline.py")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(base, "runs", run_id)
    _isolate_env(run_dir)
    try:
        record, result = run(args, base, run_dir, run_id)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        host.stop_resource_tracker()
    path = os.path.join(base, "records", f"{run_id}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    for name, m in record["metrics"].items():
        moves = f"  moves {m['moves']} on {','.join(m['on'])}" if "moves" in m else ""
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}{moves}")
    print(f"samples {record['samples']}  record {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
