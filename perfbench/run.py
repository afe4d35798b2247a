"""Benchmark runner for the etl_zero_spark engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The runner generates the workload's
inputs from ``--seed`` under ``.perfbench_work/`` in the checkout, starts
one host-sized Spark session, sets up (input generation plus one
warm-up pass, ``SETUP_REPS`` times), then times operations until they
have taken ``--seconds`` seconds, checking every output outside the
timed region.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json.
``--trace 1`` runs a fixed number of operations with spans around the
calls into each engine layer and Spark's event log on, and reports the
per-layer metrics. The line before the last one carries the workload's
own figures (per-request-type latencies, recall, the stage ledger, the
planted counts, the session confs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

from spans import COUNTERS, Tracer, rollup

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Setups per run; ``setup_s`` is session start, plus the one-off part
#: of setup (an index build), plus the median of the repeated part.
SETUP_REPS = 3
#: Untraced runs time at least this many operations.
MIN_OPS = 3
#: The session confs the benchmark sets; every other conf keeps the
#: engine's default. The driver heap is capped to fit a 15 GB host.
CONFS = {
    "spark.driver.memory": "3g",
    "spark.ui.showConsoleProgress": "false",
}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every process below ``root``: the Spark JVM and
    the Python workers it forks."""
    kids, total = _children(), 0
    todo = list(kids.get(root, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the process tree's resident size four times a second."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(me))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_session(work: str, trace: bool):
    from etl_zero_spark.session import get_spark

    confs = dict(CONFS)
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{logs}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{os.cpu_count()}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, graceful: bool) -> None:
    """End the JVM and wait until it and the Python workers it forked
    are gone. ``graceful`` stops Spark first, which flushes the event
    log; otherwise the JVM is killed, which takes seconds less."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    if graceful:
        spark.stop()
        proc.stdin.close()
    else:
        proc.kill()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 60
    while _children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def measure(args) -> tuple[dict, dict]:
    import workloads  # imports the engine, so only once ROOT is on sys.path

    wl = workloads.WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # keep every file Python, Spark and the JVMs write inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    trace = bool(args.trace)
    rss = RssSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t0
        rss.start()
        # spans and event-log totals cover the timed operations only
        tracer = Tracer(spark.sparkContext, enabled=False)
        ctx = workloads.Ctx(spark, tracer, args.seed, work)
        reps = []
        for _ in range(SETUP_REPS):
            t, once = time.perf_counter(), wl.once_s
            inputs = wl.setup(ctx)
            reps.append(time.perf_counter() - t - (wl.once_s - once))
        setup_problems = len(ctx.problems)
        tracer.enabled = trace
        measured_from = time.time() * 1000.0
        wl.wrap(tracer)

        ops, busy_ms, i = [], 0.0, 0
        while (i < wl.trace_ops) if trace else (
            busy_ms < args.seconds * 1000 or i < MIN_OPS or i % wl.block
        ):
            t = time.perf_counter()
            try:
                op = wl.run_op(ctx, i)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                op = workloads.Op("error", (time.perf_counter() - t) * 1000, 0, ok=False)
                ctx.problems.append(traceback.format_exc(limit=3))
            ops.append(op)
            busy_ms += op.ms
            i += 1
        try:
            wl.finish(ctx, ops)
        except Exception:  # noqa: BLE001
            ops[-1].ok = False
            ctx.problems.append(traceback.format_exc(limit=3))
        tracer.close()
        lat = wl.latencies(ops)
        e2e = {
            "setup_s": session_s + wl.once_s + statistics.median(reps),
            "op_p50_ms": workloads.p50(lat),
            "items_per_s": sum(o.items for o in ops) / (sum(o.ms for o in ops) / 1000.0),
        }
        layers = {}
        if trace:
            stop_session(spark, graceful=True)
            spark = None
            roll = rollup(os.path.join(work, "eventlog"), tracer, measured_from)
            layers = layer_metrics(wl, ctx, ops, roll, lat)
            layers["proc.peak_rss_mb"] = rss.peak / 2**20
        rss.stop()
        failed = sum(not o.ok for o in ops)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "session_s": session_s, "setup_once_s": wl.once_s,
            "setup_reps_s": reps, "inputs": inputs,
            "ops": len(ops), "busy_s": busy_ms / 1000.0,
            "op_ms": [[o.kind, round(o.ms, 1)] for o in ops],
            "peak_rss_mb": rss.peak / 2**20, **wl.details(ops),
            "confs": CONFS, "problems": ctx.problems[:20],
        }
        if trace:
            detail["layers"] = layers
        result = {
            "correct": failed == 0 and setup_problems == 0,
            "attempted": len(ops), "failed": failed,
        }
        return detail, {"result": result, "e2e": e2e, "layers": layers}
    finally:
        if rss.is_alive():
            rss.stop()
        if spark is not None:
            stop_session(spark, graceful=False)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def layer_metrics(wl, ctx, ops, roll, lat) -> dict:
    tracer = ctx.tracer
    out = wl.layer_metrics(ctx, ops, roll)
    for c in COUNTERS:
        out[f"spark.{c}"] = roll.total(c)
        for span_name, vals in roll.by_name.items():
            out[f"spark.{c}.{span_name}"] = vals[c]
    timed = [o.span for o in ops if o.span is not None]
    out["spark.driver_only_ms"] = sum(roll.driver_only_ms(tracer, s) for s in timed) / len(timed)
    out["trace.uncovered_ms"] = sum(tracer.uncovered_ms(s) for s in timed) / len(timed)
    out["trace.overhead_ms"] = tracer.overhead_s * 1000.0 / len(timed)
    out["trace.op_p50_ms"] = statistics.median(lat) if lat else 0.0
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "etl_zero_spark")):
        print(f"perfbench: no etl_zero_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    detail, res = measure(args)
    if args.trace:
        wanted, values = spec["per_layer"], res["layers"]
    else:
        wanted, values = spec["end_to_end"], res["e2e"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({**res["result"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
