"""Tests of the benchmark's event-log parser.

    python3 -m pytest perfbench/test_trace.py -q

The last test starts a local Spark session and writes a real event log over
the benchmark's copy of the sf0.001 tables.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as T  # noqa: E402

RUN = "internal.metrics.executorRunTime"
CPU = "internal.metrics.executorCpuTime"


def _job(jid, submit, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
         "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _stage(sid, accs, attempt=0, tasks=2):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Stage Attempt ID": attempt, "Number of Tasks": tasks,
        "Accumulables": [{"ID": i, "Name": n, "Value": v} for i, n, v in accs]}}


def _write(tmp_path, events) -> str:
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(path)


def test_accumulators_counted_once_per_id(tmp_path):
    log = T.parse_event_log(_write(tmp_path, [
        *_job(0, 1000, 2000, [0]),
        _stage(0, [(7, RUN, 500), (7, RUN, 500), (8, CPU, 2e8), ("x", "other", 1)]),
    ]))
    st = log.stages[0]
    assert st.metrics["task_s"] == 0.5
    assert abs(st.metrics["executor_cpu_s"] - 0.2) < 1e-12
    assert st.tasks == 2


def test_retried_stage_attempt_replaces_the_first(tmp_path):
    log = T.parse_event_log(_write(tmp_path, [
        *_job(0, 1000, 2000, [0]),
        _stage(0, [(7, RUN, 900)], attempt=1, tasks=3),
        _stage(0, [(3, RUN, 400)], attempt=0, tasks=2),
    ]))
    assert log.stages[0].metrics["task_s"] == 0.9
    assert log.stages[0].tasks == 3


def test_jobs_and_batches_attributed_by_time_window(tmp_path):
    log = T.parse_event_log(_write(tmp_path, [
        *_job(0, 1000, 2000, [0, 1]),
        *_job(1, 3000, 3500, [2]),
        _stage(0, [(1, RUN, 100)]),
        _stage(2, [(2, RUN, 300)]),
        {"Event": T.PROGRESS_EVENT, "progress": {
            "timestamp": "1970-01-01T00:00:03.000Z",
            "durationMs": {"triggerExecution": 400}}},
    ]))
    first = T.window_stats(log, 0, 2500)
    assert (first["jobs"], first["stages"], first["task_s"]) == (1, 1, 0.1)  # stage 1 skipped
    second = T.window_stats(log, 2500, 4000)
    assert (second["jobs"], second["batches"], second["batch_s"]) == (1, 1, 0.4)
    assert T.nojob_s(log, 0, 4000) == 2.5


def test_event_log_of_a_local_run(tmp_path):
    """A real sf0.001 event log: jobs, shuffle, a micro-batch, CPU <= run time."""
    import __spark_entry__ as E
    from activity_files_spark.session import get_spark
    from perfbench.datagen import SF_DIR as sf

    events = tmp_path / "events"
    events.mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2,
                      extra_conf={
                          "spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": f"file://{events}",
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.sql.warehouse.dir": str(tmp_path / "wh"),
                          "spark.ui.showConsoleProgress": "false",
                      })
    try:
        E.queries()["stream_sessionize_users"](spark, sf).collect()
        E.queries()["contact_pairs_events"](spark, sf).collect()
    finally:
        spark.stop()
    log = T.parse_event_log(str(events))
    assert log.jobs and log.stages and log.batches
    whole = T.window_stats(log, 0, 2 ** 62)
    assert whole["jobs"] == len(log.jobs)
    assert whole["tasks"] > 0 and whole["task_s"] > 0
    assert whole["shuffle_write_mb"] > 0
    for st in log.stages.values():  # run time is whole ms per task
        assert st.metrics["executor_cpu_s"] <= st.metrics["task_s"] + st.tasks * 1e-3


def test_cpu_of_ended_jvm_threads_is_kept(monkeypatch):
    """The JVM ends idle compiler threads; their CPU stays in the JIT sum."""
    tree = T.ProcTree(1, _jvm=2)
    monkeypatch.setattr(T, "cpu_s", lambda pid, reaped=True: 0.0)
    monkeypatch.setattr(T, "descendants", lambda pid: [])
    seen = [{10: ("jit", 1.0), 11: ("jit", 2.0), 12: ("gc", 0.5)},
            {10: ("jit", 1.5), 12: ("gc", 0.75)}]  # thread 11 has ended
    monkeypatch.setattr(T, "_thread_cpu", lambda pid: seen.pop(0))
    assert tree.cpu()["jit"] == 3.0
    after = tree.cpu()
    assert (after["jit"], after["gc"]) == (3.5, 0.75)
