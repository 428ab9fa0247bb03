"""The benchmark's workloads, the three that ``BENCHMARK.json`` lists.

Each workload drives the program only through its public surface:
``PipelineSpec``/``Scheduler`` for the YAML tasks, the operator
functions, and the stream sources and sinks. ``run`` performs one task
run, from input to complete result, and returns what the timing and the
checks need; ``check`` compares a run's output with an independent
computation (see ``checks.py``).
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import checks, gen


class Workload:
    name = ""
    #: input rows one task run consumes (for rows_per_s)
    rows = 0
    #: untimed runs after the cold one: JIT compilation is still visibly
    #: finishing during the first warm run
    warmup_runs = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.out_root = os.path.join(work, "out")
        os.makedirs(self.out_root, exist_ok=True)
        self.inputs, self.truth = gen.cached(
            os.path.join(work, "..", "inputs"), f"{self.name}-s{seed}-{self.size_key()}", self.generate
        )

    def size_key(self) -> str:
        raise NotImplementedError

    def generate(self, out_dir: str) -> dict:
        raise NotImplementedError

    def run(self, label: str) -> dict:
        raise NotImplementedError

    def check(self, result: dict) -> list[str]:
        raise NotImplementedError

    def discard(self, result: dict) -> None:
        """Free what a run left behind (outside the timed region)."""
        out = result.get("out")
        if out:
            shutil.rmtree(out, ignore_errors=True)

    def source_frames(self) -> dict:
        """The task's source DataFrames, for the traced scan-only probe."""
        return {}

    def operator_passes(self) -> dict:
        """Single-operator passes for the traced mode: name -> callable."""
        return {}


def _run_yaml(wl: Workload, label: str, yaml_text: str, task: str) -> dict:
    from rabbit_data_pipeline_spark.pipeline.scheduler import Scheduler

    out = os.path.join(wl.out_root, label)
    t0 = time.perf_counter()
    sch = Scheduler.from_yaml(wl.spark, yaml_text, variables={"out": out})
    sch.run(task)
    wall = time.perf_counter() - t0
    return {"wall": wall, "out": out, "rows": wl.rows}


# ------------------------------------------------------------------ llm_prep

LLM_YAML = """
llm_prep:
  docs:
    type: source.parquet
    start: true
    path: {inputs}/corpus
    output: dedup
  dedup:
    type: transform.dedup_exact
    text_col: text
    id_col: doc_id
    output: metrics
  metrics:
    type: transform.text_metrics
    text_col: text
    output: keep
  keep:
    type: transform.filter
    condition: "ws_tokens >= {min_words}"
    output: out
  out:
    type: sink.file
    format: parquet
    path: ${{out}}/docs
"""


class LlmPrep(Workload):
    name = "llm_prep"
    N_TEXTS = 1_500
    MIN_WORDS = 16
    # The regex-heavy text stage keeps getting faster for about ten runs
    # (2.5-2.8 s falling to 1.5-1.9 s on 4 cores) as the JIT compiles it;
    # timing from the second run on measured the JIT's progress.
    warmup_runs = 6

    def size_key(self) -> str:
        return f"t{self.N_TEXTS}"

    def generate(self, out_dir: str) -> dict:
        return gen.gen_corpus(out_dir, self.seed, self.N_TEXTS, self.MIN_WORDS)

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.truth["docs"]
        self.yaml = LLM_YAML.format(inputs=self.inputs, min_words=self.MIN_WORDS)
        self._cached = None

    def run(self, label: str) -> dict:
        return _run_yaml(self, label, self.yaml, "llm_prep")

    def check(self, result: dict) -> list[str]:
        return checks.check_llm(self.inputs, result["out"], self.truth)

    def source_frames(self) -> dict:
        from rabbit_data_pipeline_spark.sources.files import read_table

        return {"corpus": (read_table(self.spark, "parquet", f"{self.inputs}/corpus"), self.truth["docs"])}

    def operator_passes(self) -> dict:
        from pyspark.sql import functions as F

        from rabbit_data_pipeline_spark.operators import dedup, text

        if self._cached is None:
            self._cached = self.spark.read.parquet(f"{self.inputs}/corpus").cache()
            self._cached.count()
        df, tc = self._cached, F.col("text")

        def noop(frame):
            return lambda: frame.write.format("noop").mode("overwrite").save()

        return {
            "text.lang_id_s": noop(df.select(text.lang_id(tc))),
            "text.quality_s": noop(df.select(text.quality_score(tc))),
            "text.ws_tokens_s": noop(df.select(text.ws_token_count(tc))),
            "text.bpe_tokens_s": noop(df.select(text.bpe_token_count(tc))),
            "dedup.exact_s": noop(dedup.dedup_exact(df, "text", "doc_id")),
        }


# ------------------------------------------------------------ stream_windows

STREAM_YAML = """
stream_windows:
  queue:
    type: source.stream.queue_dir
    start: true
    path: {inputs}/queue
    max_files_per_trigger: {files_per_trigger}
    output: parse
  parse:
    type: transform.parse_json
    schema: "user string, amount long"
    output: windows
  windows:
    type: transform.windowed_agg
    window: "{window_s} seconds"
    watermark: "{watermark_s} seconds"
    group_by: [user]
    aggs:
      n: "count(*)"
      total: "sum(amount)"
    output: sink
  sink:
    type: sink.stream.memory
    name: ${{sink}}
    mode: append
    cron: -1
"""


class StreamWindows(Workload):
    name = "stream_windows"
    N_MESSAGES = 12_000
    N_FILES = 4  # three message files and the sentinel's
    FILES_PER_TRIGGER = 1
    # Every micro-batch costs about a second of fixed work (one state-store
    # task per shuffle partition), so a drain of four data batches and the
    # one that closes the windows takes about 6 s. An untimed warm-up drain
    # would add those 6 s to every process; the first timed drain is still
    # about 1 s slower than the next two, and their median absorbs it.
    warmup_runs = 0
    N_KEYS = 40
    WINDOW_S = 60
    WATERMARK_S = 600

    def size_key(self) -> str:
        return f"m{self.N_MESSAGES}f{self.N_FILES}"

    def generate(self, out_dir: str) -> dict:
        return gen.gen_queue(out_dir, self.seed, self.N_MESSAGES, self.N_FILES, self.N_KEYS,
                             self.WINDOW_S, self.WATERMARK_S)

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.truth["messages"] + 1  # + the sentinel
        self.yaml = STREAM_YAML.format(inputs=self.inputs, files_per_trigger=self.FILES_PER_TRIGGER,
                                       window_s=self.WINDOW_S, watermark_s=self.WATERMARK_S)
        self.spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(self.out_root, "ckpt"))

    def run(self, label: str) -> dict:
        from rabbit_data_pipeline_spark.pipeline.scheduler import Scheduler

        sink = "pb_" + label.replace("-", "_")
        t0 = time.perf_counter()
        sch = Scheduler.from_yaml(self.spark, self.yaml, variables={"sink": sink})
        sch.run("stream_windows")
        (q,) = sch.streaming_queries
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        progress = q.recentProgress
        batches = [p for p in progress if p["numInputRows"] > 0]
        return {
            "wall": wall,
            "rows": sum(p["numInputRows"] for p in progress),
            "batches": [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches],
            "progress": progress,
            "query": q,
            "sink": sink,
            "out": os.path.join(self.out_root, "ckpt", sink),
        }

    def check(self, result: dict) -> list[str]:
        rows = [tuple(r) for r in self.spark.sql(
            f"SELECT CAST(unix_timestamp(window_start) AS BIGINT), user, n, total FROM {result['sink']}"
        ).collect()]
        errs = checks.check_stream(self.inputs, rows, self.truth)
        if result["rows"] != self.rows:
            errs.append(f"stream drained {result['rows']} rows, published {self.rows}")
        return errs

    def discard(self, result: dict) -> None:
        self.spark.catalog.dropTempView(result["sink"])
        super().discard(result)

    def source_frames(self) -> dict:
        from rabbit_data_pipeline_spark.sources.stream import MESSAGE_SCHEMA

        df = self.spark.read.schema(MESSAGE_SCHEMA).json(f"{self.inputs}/queue")
        return {"queue": (df, self.rows)}


# ---------------------------------------------------------- graph_components


class GraphComponents(Workload):
    name = "graph_components"
    N_TREES = 6_000
    PATH_LEN = 32

    def size_key(self) -> str:
        return f"t{self.N_TREES}p{self.PATH_LEN}"

    def generate(self, out_dir: str) -> dict:
        return gen.gen_graph(out_dir, self.seed, self.N_TREES, self.PATH_LEN)

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.truth["edges"]

    def run(self, label: str) -> dict:
        from rabbit_data_pipeline_spark.operators.graph import connected_components

        jsc = self.spark.sparkContext._jsc
        t0 = time.perf_counter()
        edges = self.spark.read.parquet(f"{self.inputs}/edges")
        before = jsc.getPersistentRDDs().size()
        labels = connected_components(edges, "id_a", "id_b")
        after = jsc.getPersistentRDDs().size()
        table = labels.toArrow()
        wall = time.perf_counter() - t0
        return {"wall": wall, "rows": self.rows, "table": table, "frame": labels, "persisted": (before, after)}

    def check(self, result: dict) -> list[str]:
        return checks.check_graph(self.inputs, result["table"], self.truth) + checks.check_persisted(
            *result["persisted"]
        )

    def discard(self, result: dict) -> None:
        result.pop("table", None)
        result.pop("frame", None)

    def source_frames(self) -> dict:
        return {"edges": (self.spark.read.parquet(f"{self.inputs}/edges"), self.rows)}


WORKLOADS = {w.name: w for w in (LlmPrep, StreamWindows, GraphComponents)}
