"""The event-log parser on a small fixture in Spark 4.1's event order:
every TaskEnd of a stage arrives before that stage's StageCompleted."""

import os

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_taskend_first.jsonl")


def test_fixture_has_taskend_before_stagecompleted():
    import json

    with open(FIXTURE) as f:
        kinds = [(e["Event"], e.get("Stage ID", e.get("Stage Info", {}).get("Stage ID")))
                 for e in map(json.loads, f)]
    first_end = kinds.index(("SparkListenerTaskEnd", 0))
    completed = kinds.index(("SparkListenerStageCompleted", 0))
    assert first_end < completed


def test_stage_rows_keep_name_and_task_count_when_taskend_comes_first():
    log = eventlog.parse_file(FIXTURE)
    s0 = log.stages[(0, 0)]
    assert s0.name == "scan parquet"
    assert s0.num_tasks == 2
    assert s0.totals["tasks"] == 2
    assert (s0.submitted_ms, s0.completed_ms) == (2010, 2400)
    assert s0.totals["run_ms"] == 500
    assert s0.totals["input_records"] == 1000


def test_group_summary_splits_jobs_by_group_and_skips_unrun_stages():
    log = eventlog.parse_file(FIXTURE)
    run = log.group_summary(["run1"])
    assert (run["jobs"], run["stages"], run["tasks"]) == (1, 2, 3)
    assert run["cpu_ns"] == 490_000_000
    assert run["gc_ms"] == 15
    assert run["shuffle_write_bytes"] == 1800
    assert run["shuffle_read_bytes"] == 1800
    assert run["spill_bytes"] == 64
    # stages 0 [2010, 2400] and 1 [2350, 2600] overlap: their union is 590 ms
    assert run["stage_busy_ms"] == 590

    sink = log.group_summary(["run1:sink"])
    assert (sink["jobs"], sink["stages"], sink["tasks"]) == (1, 1, 1)  # stage 2 never ran

    both = log.group_summary(["run1", "run1:sink"])
    assert both["jobs"] == 2 and both["stage_busy_ms"] == 590 + 90
    assert log.group_summary(["nope"])["jobs"] == 0
    assert log.jobs[2].group is None


def test_union_of_intervals():
    assert eventlog._union_ms([(0, 10), (5, 15), (20, 30), (21, 22)]) == 25
    assert eventlog._union_ms([]) == 0
