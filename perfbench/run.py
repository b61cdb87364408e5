#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, local[nproc].

    python3 perfbench/run.py --workload {ingest,queries}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The run sets up the workload (several
times; `setup_s` is the median), warms it up untimed, forces a JVM GC,
then runs a closed loop of ops for at least `--seconds` (whole passes for
`queries`). Outputs are checked afterwards, untimed; a wrong or
failed op counts in `failed`.

The last stdout line is the result: with `--trace 0` every end-to-end
metric, with `--trace 1` every per-layer metric. A traced run runs the
untraced timed phase and then a traced one of the same length, so the
tracing overhead is measured within one process; its spans and per-op
counters go to `.perfbench_run/traces/<workload>-<seed>.json`. The line
before the result is a JSON `diagnostics` object (error rate, the time of
each phase, every op's latency, and the median latency of the first and
last quarter of the timed ops), so a reader can see the warm-up was long
enough.

Inputs, outputs and Spark scratch live under `.perfbench_run/` in the
checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
    "index_bytes_per_record": "B",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------ process tree


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(pid))
    return out


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def peak_rss_mb() -> float:
    """VmHWM summed over this process, its JVM and the Python workers."""
    total_kb = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def stop_descendants(timeout: float = 30.0) -> None:
    """Wait for every process this run started to end (the JVM exits
    after spark.stop(); its Python workers with it); kill stragglers."""
    import signal

    deadline = time.monotonic() + timeout
    while True:
        rest = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            for p in rest:
                try:
                    os.waitpid(p, 0)
                except OSError:
                    pass
            return
        for p in rest:
            try:
                os.waitpid(p, os.WNOHANG)
            except OSError:
                pass
        time.sleep(0.1)


# ------------------------------------------------------------------ session


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # a fixed, pre-touched heap: peak RSS then varies with off-heap and
        # Python-worker memory, not with when G1 happened to grow the heap
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}"
        " -XX:+AlwaysPreTouch'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.log.level=ERROR",
        # whole input paths in plan descriptions, so the trace can tell
        # which dimension table a broadcast carries
        "--conf spark.sql.maxMetadataStringLength=1000",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None
    from biocache_store_spark.session import get_spark

    cpus = os.cpu_count()
    # one shuffle partition per core: AQE coalesces anyway, and the
    # default 32 only adds scheduling overhead to every job on a small box
    return get_spark(app_name="perfbench", cpus=cpus, shuffle_partitions=cpus)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it (PySpark keeps the gateway
    JVM alive until the interpreter exits; closing its stdin ends it), and
    wait for the Python workers to go with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    stop_descendants()


# --------------------------------------------------------------- measuring


def quantile(values: list[float], q: float) -> float:
    """Quantile q in [0, 1], interpolating linearly between samples."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def timed_phase(spark, workload, tracer, seconds: float, on_op=None) -> list[dict]:
    """Closed loop, one client: ops back to back for >= `seconds`, and for
    workloads with passes until the pass completes. A failed op is
    recorded, counted, and the loop goes on."""
    spark.sparkContext._jvm.System.gc()
    ops = []
    t0 = time.perf_counter()
    while True:
        kind, fn = workload.next_op()
        start = time.perf_counter()
        ok, units = True, 0
        try:
            with tracer.op(kind):
                units = fn(tracer)
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            ok = False
        end = time.perf_counter()
        ops.append({"kind": kind, "s": end - start, "units": units, "ok": ok})
        if on_op is not None and ok:
            on_op(tracer)
        if end - t0 >= seconds and getattr(workload, "pass_complete", lambda: True)():
            return ops


def end_to_end(ops: list[dict], setup_s: float, rss: float, bytes_per_record: float) -> dict:
    lat = [o["s"] * 1e3 for o in ops]
    return {
        "setup_s": setup_s,
        "throughput_per_s": sum(o["units"] for o in ops) / sum(o["s"] for o in ops),
        "latency_p50_ms": statistics.median(lat),
        "latency_p90_ms": quantile(lat, 0.9),
        "peak_rss_mb": rss,
        "index_bytes_per_record": bytes_per_record,
    }


def steadiness(ops: list[dict]) -> dict:
    """Median latency of the first and the last quarter of the timed ops,
    raw and as a ratio to the median of the op's own kind: the rotation
    mixes kinds, so only the ratio shows a trend within a kind."""
    lat = [o["s"] * 1e3 for o in ops]
    by_kind: dict[str, list[float]] = {}
    for o, v in zip(ops, lat):
        by_kind.setdefault(o["kind"], []).append(v)
    rel = [v / statistics.median(by_kind[o["kind"]]) for o, v in zip(ops, lat)]
    q = max(1, len(lat) // 4)
    return {
        "first_quarter_p50_ms": statistics.median(lat[:q]),
        "last_quarter_p50_ms": statistics.median(lat[-q:]),
        "first_quarter_p50_of_kind": statistics.median(rel[:q]),
        "last_quarter_p50_of_kind": statistics.median(rel[-q:]),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    try:
        import biocache_store_spark
        import oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: needs the repository checkout around it ({exc})", file=sys.stderr)
        return 2
    if not os.path.abspath(biocache_store_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: biocache_store_spark must come from this checkout", file=sys.stderr)
        return 2
    import layers
    from workloads import WORKLOADS, NullTracer

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_session = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t_session
    try:
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            workload.setup()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        workload.warmup()
        warmup_s = time.perf_counter() - t
        ops = timed_phase(spark, workload, NullTracer(), args.seconds)
        rss = peak_rss_mb()
        bytes_per_record = workload.storage_bytes_per_record()
        traced = None
        if args.trace:
            traced = layers.traced_phase(spark, workload, args.seconds, timed_phase)
            layers.write_trace(traced, os.path.join(
                ROOT, ".perfbench_run", "traces", f"{args.workload}-{args.seed}.json"))
        t = time.perf_counter()
        checked, problems = workload.check()
        check_s = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t
        shutil.rmtree(work, ignore_errors=True)

    every_op = ops + (traced["ops"] if traced else [])
    failed_ops = sum(not o["ok"] for o in every_op)
    attempted = len(every_op) + checked
    failed = failed_ops + len(problems)
    for p in problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    lat = [o["s"] * 1e3 for o in ops]
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(ops),
        "checked": checked,
        "error_rate": failed / attempted,
        "session_start_s": session_s,
        "setup_runs_s": setups,
        "warmup_s": warmup_s,
        "warmup_parts_s": getattr(workload, "warmup_parts", {}),
        "timed_s": sum(o["s"] for o in ops),
        "check_s": check_s,
        "stop_s": stop_s,
        "op_ms": [[o["kind"], round(o["s"] * 1e3, 1)] for o in ops],
        **steadiness(ops),
    }
    print(json.dumps({"diagnostics": diagnostics}))
    if args.trace:
        values = layers.per_layer(traced, ops, steadiness(ops))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    else:
        values = end_to_end(ops, statistics.median(setups), rss, bytes_per_record)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not problems and not failed_ops,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
