"""Run one benchmark workload in a fresh process and print one JSON line.

    python3 perfbench/run.py --workload llm_prep --seed 1 --seconds 10 --trace 0

The run starts a Spark session through ``session.get_spark`` (timed from
the process's start: ``setup_s``), generates or reuses the seeded inputs
(untimed), runs the task once cold (``cold_task_s``), then the
workload's untimed warm-up runs (``Workload.warmup_runs``), then repeats
timed warm runs until
``--seconds`` have passed and at least three were taken (``task_s`` is
their median), checks the last run's output against an independent
computation, and prints the result. ``--trace 1`` turns on the traced
mode (see ``trace.py``), which prints the per-layer metrics instead of
the end-to-end ones.

Work files go under ``.perfbench_work/`` in the current directory: the
cached inputs, and one directory per process that is removed at exit.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

#: Timed warm runs taken at least, however long they take.
MIN_WARM_RUNS = 3
#: Cores for ``local[N]``, capped by the host's.
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "1g"
END_TO_END_UNITS = {
    "setup_s": "s", "cold_task_s": "s", "task_s": "s",
    "rows_per_s": "rows/s", "batch_s": "s", "peak_rss_mb": "MB",
}


def process_age() -> float:
    """Seconds since this process started, by the kernel's clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# Interpreter start-up before the first line of this file ran; the rest
# of set-up is measured with perf_counter from that line on.
_PRE_MAIN = max(process_age() - (time.perf_counter() - _T_START), 0.0)


def since_start() -> float:
    return _PRE_MAIN + time.perf_counter() - _T_START


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and all of
    its descendants alive now (the JVM and any Python workers)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def start_session(work: str, trace: bool):
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # The JVM's scratch files stay in the work directory, and it keeps no
    # performance-counter file under /tmp. The heap starts at its maximum:
    # grown step by step, its size followed GC timing, and the JVM's peak
    # RSS varied by a third between runs of one workload.
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}'",
            "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        from perfbench import trace as trace_mod

        args += trace_mod.event_log_args(work)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])

    from rabbit_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    started = time.perf_counter()
    spark.range(1).count()
    done = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"session.start_s": started - t0, "session.first_action_s": done - started}


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench import trace as trace_mod
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark, session_layer = start_session(work, bool(args.trace))
        setup_s = since_start()
        tracer = trace_mod.Tracer(spark, CORES) if args.trace else trace_mod.NULL
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        attempted = 0
        failures: list[str] = []  # task runs that raised
        mismatches: list[str] = []  # outputs that failed their check

        def one(label: str) -> dict | None:
            nonlocal attempted
            attempted += 1
            try:
                with tracer.run(label):
                    result = wl.run(label)
            except Exception as exc:  # a failed task run is counted, not fatal
                failures.append(f"{label}: {type(exc).__name__}: {exc}"[:400])
                return None
            result["label"] = label
            tracer.after_run(label, result)
            return result

        cold = one("cold")
        if cold is not None:
            mismatches += wl.check(cold)
            wl.discard(cold)
        for i in range(wl.warmup_runs):
            r = one(f"warmup{i}")
            if r is not None:
                wl.discard(r)
        timed: list[dict] = []
        t_end = time.perf_counter() + args.seconds
        while len(timed) < MIN_WARM_RUNS or time.perf_counter() < t_end:
            r = one(f"warm{len(timed)}")
            if r is None:
                break
            if timed:  # only the last run's output is checked
                wl.discard(timed[-1])
            timed.append(r)
        if not timed or cold is None:
            raise RuntimeError("task runs failed: " + "; ".join(failures))
        mismatches += wl.check(timed[-1])
        wl.discard(timed[-1])
        if args.trace:
            metrics = tracer.layer_metrics(wl, session_layer, timed)
        else:
            task_s = statistics.median(r["wall"] for r in timed)
            metrics = {
                "setup_s": setup_s,
                "cold_task_s": cold["wall"],
                "task_s": task_s,
                "rows_per_s": statistics.median(r["rows"] for r in timed) / task_s,
                "batch_s": statistics.median(b for r in timed for b in r.get("batches", [r["wall"]])),
                "peak_rss_mb": tree_peak_rss_mb(),
            }
        stop_session(spark)
        spark = None
        if args.trace:
            mismatches += tracer.exec_metrics(work, timed, metrics)
            trace_file = os.path.join(root, f"trace-{args.workload}-s{args.seed}.jsonl")
            tracer.write(trace_file, metrics)
            print("spans and per-layer metrics written to", trace_file, file=sys.stderr)
        print("timed runs (s):", " ".join(f"{r['wall']:.3f}" for r in timed), file=sys.stderr)
        for line in failures + mismatches:
            print("FAILED:", line, file=sys.stderr)
        units = trace_mod.LAYER_METRICS if args.trace else END_TO_END_UNITS
        result = {
            "correct": not mismatches,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
