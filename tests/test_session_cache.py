"""Session tests: the shuffle-partition default, load_tables
plan-metadata memoization and the adaptive scan-spread helper.

The static shuffle-partition count is the state-partition count every
new streaming query records, so it defaults to the session's task
slots; ``SPARK_GRAFT_SHUFFLE`` overrides it.

The memo caches ONLY the analyzed DataFrame handle (schema/plan) — the
data is re-scanned on every action — and must invalidate when the
underlying file changes, so a regenerated input can never be served
from a stale handle. The spread helper must be a no-op for wide/large
layouts (the 100 TB regime) and under its kill-switch, and must never
change query results, only the partitioning.
"""

from __future__ import annotations

import os
import shutil

import pytest

from rabbit_data_pipeline_spark.session import (
    _DF_CACHE,
    load_tables,
    scan_spread_hint,
    spark_builder,
    spread_scan,
    task_slots,
)

SF = "/root/testdata/sf0.001"


def test_shuffle_partitions_default_to_task_slots(spark):
    want = os.environ.get("SPARK_GRAFT_SHUFFLE", str(spark.sparkContext.defaultParallelism))
    assert spark.conf.get("spark.sql.shuffle.partitions") == want
    assert spark.sparkContext.defaultParallelism == task_slots()


def test_spark_builder_takes_shuffle_default_from_slots(monkeypatch):
    # A fresh builder per call: nothing here reaches the running session.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    opts = spark_builder()._options
    assert (opts["spark.master"], opts["spark.sql.shuffle.partitions"]) == ("local[3]", "3")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "200")
    assert spark_builder()._options["spark.sql.shuffle.partitions"] == "200"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert task_slots() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert task_slots() == len(os.sched_getaffinity(0))


def test_load_tables_memoizes_handle(spark):
    a = load_tables(spark, SF, ("supplier",))["supplier"]
    b = load_tables(spark, SF, ("supplier",))["supplier"]
    assert a is b  # same analyzed handle, no re-read
    key = (spark.sparkContext.applicationId, os.path.join(SF, "supplier.parquet"))
    assert key in _DF_CACHE


def test_load_tables_invalidates_on_file_change(spark, tmp_path):
    src = os.path.join(SF, "supplier.parquet")
    dst_dir = str(tmp_path)
    dst = os.path.join(dst_dir, "supplier.parquet")
    shutil.copyfile(src, dst)
    first = load_tables(spark, dst_dir, ("supplier",))["supplier"]
    n_first = first.count()
    # Regenerate the file with fewer rows; the fingerprint (size,
    # mtime_ns) changes, so the next load must re-read, and the temp
    # view must re-register over the new handle.
    first.limit(3).write.mode("overwrite").parquet(dst + ".tmp")
    shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
    os.rename(dst + ".tmp", dst)
    second = load_tables(spark, dst_dir, ("supplier",))["supplier"]
    assert second is not first
    assert second.count() == 3 != n_first
    assert spark.table("supplier").count() == 3


def test_load_tables_reregisters_view_across_dirs(spark, tmp_path):
    """Alternating sf dirs (the bench's sf0.1/sf1 loops) must leave the
    temp view pointing at the most recent dir even when both handles
    are cache hits."""
    other = str(tmp_path / "alt")
    os.makedirs(other)
    src = os.path.join(SF, "supplier.parquet")
    load_tables(spark, SF, ("supplier",))
    df = load_tables(spark, SF, ("supplier",))["supplier"]
    df.limit(1).write.parquet(os.path.join(other, "supplier.parquet"))
    load_tables(spark, other, ("supplier",))
    assert spark.table("supplier").count() == 1
    load_tables(spark, SF, ("supplier",))
    assert spark.table("supplier").count() == df.count()


def test_scan_spread_hint_zero_for_large_or_wide(spark, monkeypatch):
    # kill-switch
    monkeypatch.setenv("SPARK_GRAFT_NO_SPREAD", "1")
    assert scan_spread_hint(spark, SF, "supplier") == 0
    monkeypatch.delenv("SPARK_GRAFT_NO_SPREAD")
    # missing table -> 0, never raises
    assert scan_spread_hint(spark, SF, "no_such_table") == 0
    # small single-file local layout -> spread to the session cores
    w = scan_spread_hint(spark, SF, "supplier")
    assert w == spark.sparkContext.defaultParallelism
    # the 100 TB regime: force the size cap under the file's size
    import rabbit_data_pipeline_spark.session as sess

    monkeypatch.setattr(sess, "_SPREAD_MAX_BYTES", 0)
    assert scan_spread_hint(spark, SF, "supplier") == 0


def test_spread_scan_preserves_results(spark):
    df = load_tables(spark, SF, ("supplier",))["supplier"]
    plain = {tuple(r) for r in df.collect()}
    spread = spread_scan(df, spark, SF, "supplier")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert {tuple(r) for r in spread.collect()} == plain


@pytest.mark.usefixtures("spark")
def test_spread_scan_noop_when_hint_zero(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_SPREAD", "1")
    df = load_tables(spark, SF, ("supplier",))["supplier"]
    assert spread_scan(df, spark, SF, "supplier") is df
