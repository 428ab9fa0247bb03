"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; the confs are chosen to also be the
right defaults on a large cluster. AQE coalesces shuffle partitions and
splits skewed joins at runtime, so for batch queries the static
``spark.sql.shuffle.partitions`` is only AQE's starting point. Streaming
queries are not re-planned: a stateful query takes the session's count
as its fixed state-partition count when its checkpoint is first created
and keeps it on every restart, running one state-store task per
partition in every micro-batch. The default is therefore one partition
per task slot; ``SPARK_GRAFT_SHUFFLE`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def task_slots() -> int:
    """Task slots of the ``local[N]`` session: ``SPARK_GRAFT_CPUS``, or
    every core this process may run on when it is unset or ``*``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return len(os.sched_getaffinity(0)) if cpus == "*" else int(cpus)


def spark_builder(app_name: str = "rabbit-data-pipeline-spark") -> SparkSession.Builder:
    """The configured builder behind ``get_spark``, for callers that add
    confs of their own (an event log, say) before ``getOrCreate``."""
    slots = task_slots()
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{slots}]")
        # AQE: runtime partition coalescing + skew-join splitting. At
        # 100 TB this is what keeps one hot key from stalling a stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Batch: AQE's starting point (it coalesces down, splits skew
        # up). Streaming: the state-partition count a new checkpoint
        # records for good, so each micro-batch runs this many
        # state-store tasks; one per slot keeps that to a single wave.
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", str(slots)))
        # Arrow for the few pandas-UDF ops (multimodal/stateful).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dims up to 32 MB broadcast (TPC-H dims at any SF we test).
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # In local mode the driver JVM is every executor, so one heap
        # serves all task threads of a long-lived process; 8g left such a
        # process GC-bound in its tail. On a cluster this is per-executor
        # memory, sized by the deployer.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )


def get_spark(app_name: str = "rabbit-data-pipeline-spark") -> SparkSession:
    return spark_builder(app_name).getOrCreate()


# load_tables resolves a table's schema once per session, as a catalog
# would, not once per query: re-running ``spark.read.parquet(path)``
# costs a py4j round trip, a footer/schema read and a file listing
# (~135 ms), and re-registering the temp view another ~35 ms. It
# memoizes the ANALYZED DataFrame handle per (SparkContext, path), keyed
# by a file fingerprint (name/size/mtime_ns of the file or of every file
# in the directory). This caches *plan metadata only*: every execution
# still scans the parquet input, and regenerated input invalidates the
# entry via the fingerprint. View registration is skipped only when the
# same (name → path, fingerprint) binding is already current, so
# alternating sf dirs in one process re-register correctly.
_DF_CACHE: dict[tuple[str, str], tuple[object, DataFrame]] = {}
_VIEW_STATE: dict[tuple[str, str], tuple[str, object]] = {}


def _fingerprint(path: str) -> object:
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    out = []
    for f in sorted(os.listdir(path)):
        s = os.stat(os.path.join(path, f))
        out.append((f, s.st_size, s.st_mtime_ns))
    return tuple(out)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables and register temp views.

    Parquet scans get predicate pushdown + column pruning for free as
    long as downstream stays declarative.
    """
    out: dict[str, DataFrame] = {}
    ctx_id = spark.sparkContext.applicationId
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            fp = _fingerprint(path)
            key = (ctx_id, path)
            cached = _DF_CACHE.get(key)
            if cached is not None and cached[0] == fp:
                df = cached[1]
                vkey = (ctx_id, name)
                if _VIEW_STATE.get(vkey) != (path, fp):
                    df.createOrReplaceTempView(name)
                    _VIEW_STATE[vkey] = (path, fp)
                out[name] = df
                continue
            if name == "events":
                # events.ts has shipped as both parquet TIMESTAMP(NANOS)
                # (unreadable natively -> legacy ns-as-long BIGINT) and
                # TIMESTAMP(MICROS) (reads as TimestampNTZ). Branch on the
                # dtype actually read instead of assuming one generation of
                # testdata. The ns path truncates with integer div (no
                # double math: ns values exceed 2^53), matching DuckDB's
                # CAST(ts AS TIMESTAMP) truncation bit-for-bit.
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = spark.read.parquet(path)
                from pyspark.sql import functions as F
                from pyspark.sql import types as T

                if isinstance(df.schema["ts"].dataType, T.LongType):
                    df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
                else:
                    # TIMESTAMP(MICROS) reads as TimestampNTZ, which several
                    # downstream exprs (unix_micros, window ranges) reject.
                    # Session tz is UTC, so NTZ -> TIMESTAMP keeps the same
                    # wall-clock instant and matches the r1-green dtype that
                    # timestamp_micros() produced.
                    df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
            else:
                df = spark.read.parquet(path)
            _DF_CACHE[key] = (fp, df)
            df.createOrReplaceTempView(name)
            _VIEW_STATE[(ctx_id, name)] = (path, fp)
            out[name] = df
    return out


# Input skew: the generated test inputs are one parquet file with ONE
# row group per table (sf0.1) or 2-8 files (the sf1 scaled copy), so a
# scan stage gets 1-8 tasks and every compute-heavy per-row pass (Arrow
# minhash signatures, regex token/quality scans, cosine math, codec
# decode) runs nearly serially. The helper below returns a repartition
# width ONLY when (a) the scan's estimated split count is below the
# session's core count and (b) the table is small enough that one extra
# shuffle of it is trivially repaid. At 100 TB (many files,
# > _SPREAD_MAX_BYTES) it returns 0 and the plan is untouched. Both
# knobs are env-overridable for cluster profiles.
_SPREAD_MAX_BYTES = int(os.environ.get("SPARK_GRAFT_SPREAD_MAX_BYTES", str(1 << 30)))
_SPLIT_BYTES = 128 << 20  # spark.sql.files.maxPartitionBytes default


def _table_files(sf_dir: str, name: str) -> tuple[list[str], int]:
    """(data files, total on-disk bytes) for a local parquet table;
    ([], 0) when the layout is not plain local files."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(path):
            files = [path]
        else:
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if not f.startswith("_") and not f.startswith(".")
            ]
        return files, sum(os.path.getsize(f) for f in files)
    except OSError:
        return [], 0


def scan_spread_hint(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Width to repartition a compute-heavy scan of `name` to, or 0 to
    leave the plan alone (input already wide enough, or too big for a
    spread shuffle to be worth it, or not a plain local file layout)."""
    if os.environ.get("SPARK_GRAFT_NO_SPREAD") == "1":
        return 0
    files, total = _table_files(sf_dir, name)
    if not files:
        return 0
    cores = spark.sparkContext.defaultParallelism
    est_splits = max(len(files), total // _SPLIT_BYTES)
    if est_splits >= cores or total > _SPREAD_MAX_BYTES:
        return 0
    return cores


def spread_scan(df: DataFrame, spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Apply scan_spread_hint: round-robin repartition so downstream
    per-row compute uses the whole machine. Callers project to the
    needed columns FIRST, so the shuffle moves fewer bytes."""
    w = scan_spread_hint(spark, sf_dir, name)
    return df.repartition(w) if w else df


# The regex-heavy single-pass text scans have a mapInArrow twin that
# runs the same patterns through pyarrow.compute (RE2): measured 35-45%
# faster than the codegen'd JVM expressions on a 10x documents table.
# The Arrow path pays a FIXED per-query JVM→Python boundary cost
# (~0.1 s locally: worker round trip + Arrow (de)serialization plan
# nodes), so on tiny inputs it is a measured LOSS (sf0.1 documents,
# 0.58 MB: +33%) while past a few MB it wins and keeps winning — at
# 100 TB the gate below is always true. The threshold is the measured
# local breakeven with margin (~0.1 s boundary ÷ 40% of ~10 MB/s-of-
# compressed-parquet regex throughput ≈ 2.5 MB), env-overridable for
# cluster profiles; kill switch SPARK_GRAFT_NO_ARROW_TEXT=1 forces the
# pure-JVM expressions everywhere (a Python-less cluster profile).
_ARROW_TEXT_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_ARROW_TEXT_MIN_BYTES", str(4 << 20))
)


def arrow_text_worthwhile(sf_dir: str, name: str) -> bool:
    """True when `name`'s on-disk size is large enough that the
    vectorized Arrow/RE2 text pass repays its fixed boundary cost."""
    if os.environ.get("SPARK_GRAFT_NO_ARROW_TEXT") == "1":
        return False
    _, total = _table_files(sf_dir, name)
    return total >= _ARROW_TEXT_MIN_BYTES


# DuckDB-side spelling of the same events normalization, for oracles:
# keeps the alias `events` so oracle SQL reads naturally.
EVENTS_US = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events"
