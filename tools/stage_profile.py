"""Per-stage profiler for the bench queries (guide §1.1: empirical loop).

Runs named queries with the Spark event log enabled, then attributes
per-stage task metrics (task count, total/max task time, shuffle
read/write bytes) back to each query via job-group labels. Also splits
each query's wall into builder() time (plan construction + any
driver-side work the builder does) vs action time.

Usage:
    python tools/stage_profile.py q_agg_pricing dedup_minhash ...
    SPARK_GRAFT_SF_DIR=/tmp/rdps_scaled_sf1 python tools/stage_profile.py q_big_orders

Prints, per query:
    wall(build) wall(exec run1) wall(exec min of N)
    per-stage: tasks, sum(task ms), max(task ms), shuffle R/W MB, input MB

This is a measurement tool only — never imported by the engine.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVENTLOG_DIR = "/tmp/rdps_eventlog"


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    runs = int(os.environ.get("PROFILE_RUNS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(EVENTLOG_DIR, exist_ok=True)

    from rabbit_data_pipeline_spark.session import spark_builder

    # The event log must be on before the session starts, so add it to
    # the package's own builder rather than to a running session.
    spark = (
        spark_builder("rdps-profile")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVENTLOG_DIR)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from rabbit_data_pipeline_spark.queries import registry
    from rabbit_data_pipeline_spark.queries.llm import (
        bpe_train_scale,
        bpe_train_topm_scale,
        dedup_minhash_scale,
        multimodal_codec_scale,
    )

    reg = registry()
    overrides = {
        "dedup_minhash": dedup_minhash_scale,
        "bpe_train_scale": bpe_train_scale,
        "bpe_train_topm_scale": bpe_train_topm_scale,
        "multimodal_codec_scale": multimodal_codec_scale,
    }

    def _builder(name):
        return overrides.get(name) or (reg[name].builder if name in reg else None)

    # Warm JVM/codegen once.
    reg["q_filter_project"].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

    walls: dict[str, dict] = {}
    for name in names:
        b = _builder(name)
        if b is None:
            print(f"!! unknown query {name}")
            continue
        execs = []
        builds = []
        for i in range(runs):
            spark.sparkContext.setJobGroup(f"prof:{name}:{i}", name)
            t0 = time.perf_counter()
            df = b(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            spark.sparkContext.setJobGroup(None, None)
        walls[name] = {
            "build": [round(x, 4) for x in builds],
            "exec": [round(x, 4) for x in execs],
        }

    spark.stop()

    # ---- parse the event log ----
    log_path = os.path.join(EVENTLOG_DIR, app_id)
    if not os.path.exists(log_path):
        cand = [p for p in os.listdir(EVENTLOG_DIR) if app_id in p]
        if cand:
            log_path = os.path.join(EVENTLOG_DIR, cand[0])
    if os.path.isdir(log_path):  # Spark 4 rolling event log: eventlog_v2_<app>/events_*
        parts = sorted(p for p in os.listdir(log_path) if p.startswith("events"))
        log_lines = []
        for p in parts:
            with open(os.path.join(log_path, p)) as f:
                log_lines.extend(f.readlines())
    else:
        with open(log_path) as f:
            log_lines = f.readlines()
    job_group: dict[int, str] = {}  # jobId -> group
    stage_to_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for line in log_lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                jid = ev["Job ID"]
                job_group[jid] = gid
                for sid in ev.get("Stage IDs", []):
                    stage_to_job[sid] = jid
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(
                    sid,
                    {
                        "name": si.get("Stage Name", "")[:60],
                        "tasks": si.get("Number of Tasks", 0),
                        "task_ms": 0,
                        "max_task_ms": 0,
                        "sh_read_mb": 0.0,
                        "sh_write_mb": 0.0,
                        "input_mb": 0.0,
                        "wall_ms": 0,
                    },
                )
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                if sub and com:
                    st["wall_ms"] = com - sub
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(
                    sid,
                    {
                        "name": "",
                        "tasks": 0,
                        "task_ms": 0,
                        "max_task_ms": 0,
                        "sh_read_mb": 0.0,
                        "sh_write_mb": 0.0,
                        "input_mb": 0.0,
                        "wall_ms": 0,
                    },
                )
                ti = ev.get("Task Info", {})
                dur = (ti.get("Finish Time", 0) or 0) - (ti.get("Launch Time", 0) or 0)
                st["task_ms"] += max(dur, 0)
                st["max_task_ms"] = max(st["max_task_ms"], dur)
                tm = ev.get("Task Metrics") or {}
                srm = tm.get("Shuffle Read Metrics") or {}
                swm = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                st["sh_read_mb"] += (
                    (srm.get("Local Bytes Read", 0) or 0) + (srm.get("Remote Bytes Read", 0) or 0)
                ) / 1e6
                st["sh_write_mb"] += (swm.get("Shuffle Bytes Written", 0) or 0) / 1e6
                st["input_mb"] += (im.get("Bytes Read", 0) or 0) / 1e6

    # Aggregate stages per (query, run).
    per_query: dict[str, list] = {}
    for sid, st in sorted(stages.items()):
        jid = stage_to_job.get(sid)
        gid = job_group.get(jid, "") if jid is not None else ""
        if gid.startswith("prof:"):
            _, qname, run = gid.split(":", 2)
            per_query.setdefault(f"{qname}:{run}", []).append((sid, st))

    for name in names:
        if name not in walls:
            continue
        w = walls[name]
        print(f"\n### {name}  build={w['build']}  exec={w['exec']}")
        # Show the stage breakdown of the LAST run (steady state).
        last = max(
            (int(k.split(":")[-1]) for k in per_query if k.startswith(f"{name}:")),
            default=None,
        )
        if last is None:
            print("  (no stages attributed)")
            continue
        rows = per_query[f"{name}:{last}"]
        tot_task = sum(st["task_ms"] for _, st in rows)
        tot_wall = sum(st["wall_ms"] for _, st in rows)
        print(
            f"  stages={len(rows)} total_task_ms={tot_task} stage_wall_sum_ms={tot_wall}"
        )
        for sid, st in rows:
            if st["task_ms"] == 0 and st["tasks"] == 0:
                continue
            print(
                f"  s{sid:<4d} tasks={st['tasks']:<3d} wall={st['wall_ms']:>6d}ms"
                f" task_sum={st['task_ms']:>7d}ms max={st['max_task_ms']:>6d}ms"
                f" in={st['input_mb']:>6.1f}MB shR={st['sh_read_mb']:>6.2f}MB"
                f" shW={st['sh_write_mb']:>6.2f}MB  {st['name'][:48]}"
            )


if __name__ == "__main__":
    main()
