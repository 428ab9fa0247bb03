"""Traced mode: spans around calls into the program's layers, and the
per-layer metrics built from them and from Spark's event log.

The program itself carries no tracing. ``Tracer`` wraps the public
functions of each layer module from the outside (the wrappers are
installed only in traced mode) and keeps the spans in memory. Each
task run gets its own Spark job group, and a sink write gets
``<run>:sink``, so the event log, parsed after the session stops,
splits Spark's jobs, stages and tasks by run and by layer.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

from perfbench import eventlog

# Per-layer metric names and units, in report order.
LAYER_METRICS = {
    "session.start_s": "s", "session.first_action_s": "s",
    "pipeline.parse_s": "s", "pipeline.build_s": "s", "pipeline.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.plan_chars": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.input_records": "count", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.stage_busy_s": "s", "exec.nonstage_s": "s", "exec.core_util": "ratio",
    "sources.scan_s": "s", "sources.scan_records": "count",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "text.lang_id_s": "s", "text.quality_s": "s", "text.ws_tokens_s": "s", "text.bpe_tokens_s": "s",
    "dedup.exact_s": "s",
    "graph.rounds": "count", "graph.jobs_per_round": "count", "checkpoints.left_after_call": "count",
    "stream.batches": "count", "stream.add_batch_ms": "ms", "stream.get_batch_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.state_rows": "count", "stream.state_bytes": "bytes",
    "trace.task_s": "s",
}

STREAM_DURATIONS = {
    "stream.add_batch_ms": "addBatch", "stream.get_batch_ms": "getBatch",
    "stream.latest_offset_ms": "latestOffset", "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit", "stream.commit_offsets_ms": "commitOffsets",
}


def event_log_args(work: str) -> list[str]:
    """spark-submit arguments that turn on an uncompressed event log in
    ``work``; the traced mode passes them through PYSPARK_SUBMIT_ARGS."""
    d = os.path.join(work, "eventlog")
    os.makedirs(d, exist_ok=True)
    return ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir=file://{d}",
            "--conf spark.eventLog.compress=false", "--conf spark.eventLog.rolling.enabled=false"]


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _dir_files(path: str) -> tuple[int, int]:
    files = total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                total += os.path.getsize(os.path.join(dirpath, n))
    return files, total


def _phases(qe) -> dict:
    """Catalyst phase times (ms) from a QueryExecution's tracker."""
    ph = qe.tracker().phases()
    return {p: (ph.apply(p).durationMs() if ph.contains(p) else 0)
            for p in ("analysis", "optimization", "planning")}


class _NullTracer:
    """Untraced mode: every hook is a no-op."""

    def run(self, label: str):
        return contextlib.nullcontext()

    def after_run(self, label: str, result: dict) -> None:
        pass


NULL = _NullTracer()


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []  # name, run, start, end, parent index
        self._stack: list[int] = []
        self.label: str | None = None
        self.sink_frames: dict[str, list] = {}
        self.sink_files: dict[str, tuple[int, int]] = {}
        self.catalyst: dict[str, dict] = {}
        self.stream_groups: dict[str, str] = {}  # query run id -> run label
        self.probes: dict[str, float] = {}
        self.scan_rows: dict[str, int] = {}
        self._install()

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "run": self.label, "start": time.perf_counter(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(idx)
        if group is not None:
            sc.setJobGroup(group, group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None and self.label is not None:
                sc.setJobGroup(self.label, self.label)

    @contextlib.contextmanager
    def run(self, label: str):
        self.label = label
        self.spark.sparkContext.setJobGroup(label, label)
        try:
            with self.span("task"):
                yield
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.label = None

    def _wrap(self, owner, attr: str, name: str, on_call=None, sink: bool = False):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            group = f"{tracer.label}:sink" if sink and tracer.label else None
            with tracer.span(name, group):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)

    def _install(self) -> None:
        from rabbit_data_pipeline_spark.operators import graph
        from rabbit_data_pipeline_spark.pipeline import scheduler, spec
        from rabbit_data_pipeline_spark.sinks import files as sink_files
        from rabbit_data_pipeline_spark.sources import files as source_files
        from rabbit_data_pipeline_spark.sources import stream as source_stream

        parse = spec.PipelineSpec.from_yaml.__func__
        tracer = self

        @classmethod
        def from_yaml(cls, text_or_path):
            with tracer.span("pipeline.parse"):
                return parse(cls, text_or_path)

        spec.PipelineSpec.from_yaml = from_yaml
        self._wrap(scheduler.Scheduler, "run", "pipeline.run")
        self._wrap(source_files, "read_table", "sources.read")
        self._wrap(source_stream, "queue_dir_stream", "sources.stream")

        def record_sink(args, kwargs, _out):
            df = args[0] if args else kwargs["df"]
            path = args[1] if len(args) > 1 else kwargs["path"]
            self.sink_frames.setdefault(self.label, []).append(df)
            n, size = _dir_files(path)
            f0, s0 = self.sink_files.get(self.label, (0, 0))
            self.sink_files[self.label] = (f0 + n, s0 + size)

        self._wrap(sink_files, "write_files", "sinks.write", on_call=record_sink, sink=True)
        self._wrap(graph, "connected_components", "graph.connected_components")
        self._wrap(graph, "release_local_checkpoint", "checkpoints.release")

    # -------------------------------------------------------- after runs
    def after_run(self, label: str, result: dict) -> None:
        """Read Catalyst's phase times for the plans the run produced
        (outside the run's timed region). A batch sink's input plan is
        planned here for the first time, as the write planned its own
        copy; a stream query reports its last micro-batch's planning."""
        qes = [df._jdf.queryExecution() for df in self.sink_frames.pop(label, [])]
        if "query" in result:
            self.stream_groups[str(result["query"].runId)] = label
            qes.append(result["query"]._jsq.streamingQuery().lastExecution())
        if "frame" in result:
            qes.append(result["frame"]._jdf.queryExecution())
        tot = {"analysis": 0, "optimization": 0, "planning": 0, "plan_chars": 0}
        for qe in qes:
            qe.executedPlan()
            for k, v in _phases(qe).items():
                tot[k] += v
            tot["plan_chars"] += len(qe.optimizedPlan().toString())
        self.catalyst[label] = tot

    def write(self, path: str, metrics: dict) -> None:
        """Write the spans (seconds from the first span's start) and the
        per-layer metrics as JSON lines."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")
            f.write(json.dumps({"metrics": metrics}) + "\n")

    def _span_sum(self, run: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["run"] == run and s["name"] == name)

    def _span_count(self, run: str, name: str) -> int:
        return sum(1 for s in self.spans if s["run"] == run and s["name"] == name)

    def probe(self, wl) -> None:
        """Source-only scans and single-operator passes, each a timed
        ``noop`` write under its own job group."""
        sc = self.spark.sparkContext
        for name, (df, rows) in wl.source_frames().items():
            self.scan_rows[name] = rows
            sc.setJobGroup(f"scan:{name}", name)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            self.probes["sources.scan_s"] = self.probes.get("sources.scan_s", 0.0) + time.perf_counter() - t0
        sc.setJobGroup("op:prepare", "prepare")
        for metric, fn in wl.operator_passes().items():
            sc.setJobGroup(f"op:{metric}", metric)
            t0 = time.perf_counter()
            fn()
            self.probes[metric] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)

    def layer_metrics(self, wl, session_layer: dict, timed: list[dict]) -> dict:
        """Per-layer metrics known before the session stops; medians
        over the timed warm runs."""
        self.probe(wl)
        labels = [r["label"] for r in timed]
        m = {k: 0.0 for k in LAYER_METRICS}
        m.update(session_layer)
        m.update(self.probes)
        m["trace.task_s"] = _median(r["wall"] for r in timed)
        m["pipeline.parse_s"] = _median(self._span_sum(lb, "pipeline.parse") for lb in labels)
        build = [self._span_sum(lb, "pipeline.run") - self._span_sum(lb, "sinks.write")
                 + self._span_sum(lb, "graph.connected_components") for lb in labels]
        m["pipeline.build_s"] = _median(build)
        m["sinks.write_s"] = _median(self._span_sum(lb, "sinks.write") for lb in labels)
        m["sinks.files_written"] = _median(self.sink_files.get(lb, (0, 0))[0] for lb in labels)
        m["sinks.bytes_written"] = _median(self.sink_files.get(lb, (0, 0))[1] for lb in labels)
        for k in ("analysis", "optimization", "planning"):
            m[f"catalyst.{k}_ms"] = _median(self.catalyst[lb][k] for lb in labels)
        m["catalyst.plan_chars"] = _median(self.catalyst[lb]["plan_chars"] for lb in labels)
        if any(self._span_count(lb, "graph.connected_components") for lb in labels):
            # one release per round, plus one for the edge list at the end
            m["graph.rounds"] = _median(self._span_count(lb, "checkpoints.release") - 1 for lb in labels)
            m["checkpoints.left_after_call"] = _median(r["persisted"][1] - r["persisted"][0] for r in timed)
        progress = [p for r in timed for p in r.get("progress", [])]
        if progress:
            with_data = [p for p in progress if p["numInputRows"] > 0]
            m["stream.batches"] = _median(len(r["progress"]) for r in timed)
            for metric, key in STREAM_DURATIONS.items():
                m[metric] = _median(p["durationMs"].get(key, 0) for p in with_data)
            states = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
            m["stream.state_rows"] = max((s["numRowsTotal"] for s in states), default=0)
            m["stream.state_bytes"] = max((s["memoryUsedBytes"] for s in states), default=0)
        return m

    def exec_metrics(self, work: str, timed: list[dict], m: dict) -> list[str]:
        """Fill in the exec.* metrics from the event log (after the
        session stopped) and cross-check the scan probes' input record
        counts against the generator's row counts. Returns mismatches."""
        d = os.path.join(work, "eventlog")
        (name,) = [f for f in os.listdir(d) if not f.startswith(".")]
        log = eventlog.parse_file(os.path.join(d, name))
        per_run = []
        for r in timed:
            lb = r["label"]
            groups = [lb, f"{lb}:sink"] + [g for g, owner in self.stream_groups.items() if owner == lb]
            s = log.group_summary(groups)
            s["build_jobs"] = log.group_summary([lb])["jobs"]
            s["wall"] = r["wall"]
            per_run.append(s)
        med = lambda k: _median(s[k] for s in per_run)  # noqa: E731
        m["exec.jobs"] = med("jobs")
        m["exec.stages"] = med("stages")
        m["exec.tasks"] = med("tasks")
        m["exec.task_run_s"] = med("run_ms") / 1000.0
        m["exec.task_cpu_s"] = med("cpu_ns") / 1e9
        m["exec.gc_s"] = med("gc_ms") / 1000.0
        m["exec.input_records"] = med("input_records")
        m["exec.shuffle_read_bytes"] = med("shuffle_read_bytes")
        m["exec.shuffle_write_bytes"] = med("shuffle_write_bytes")
        m["exec.spill_bytes"] = med("spill_bytes")
        m["exec.stage_busy_s"] = med("stage_busy_ms") / 1000.0
        m["exec.nonstage_s"] = _median(s["wall"] - s["stage_busy_ms"] / 1000.0 for s in per_run)
        # base: the run's wall time times the cores of local[N]
        m["exec.core_util"] = _median(s["cpu_ns"] / 1e9 / (s["wall"] * self.cores) for s in per_run)
        m["pipeline.build_jobs"] = med("build_jobs")
        if m["graph.rounds"]:
            m["graph.jobs_per_round"] = med("build_jobs") / m["graph.rounds"]
        errs = []
        scanned = 0
        for name, rows in self.scan_rows.items():
            got = log.group_summary([f"scan:{name}"])["input_records"]
            scanned += got
            if got != rows:
                errs.append(f"scan probe {name}: {got} input records, generator wrote {rows}")
        m["sources.scan_records"] = scanned
        return errs
