"""The event-log reader on a small captured log.

``data/eventlog_small.jsonl`` is a trimmed Spark 4 event log of
``range(400).repartition(2, k).mapInPandas(...).collect()`` on
``local[2]``: job 0 runs the shuffle-map stage, job 1 lists that stage
again (skipped) and runs the MapInPandas result stage.
"""

from pathlib import Path

import pytest

from perfbench import eventlog

LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_jobs_and_stages(log):
    assert sorted(log.jobs) == [0, 1]
    assert log.jobs[1].stage_ids == [1, 2]
    assert log.jobs[0].submit_s < log.jobs[1].submit_s < log.jobs[1].end_s


def test_udf_stage_is_told_from_upstream(log):
    stages = log.stages_of(log.jobs.values())
    assert [st.id for st in stages] == [0, 2]  # skipped stage 1 ran no task
    udf = [st for st in stages if st.is_udf]
    assert [st.id for st in udf] == [2]
    assert "MapInPandas" in udf[0].operators
    assert not log.stages[0].is_udf


def test_summaries(log):
    up = eventlog.summarize([log.stages[0]])
    udf = eventlog.summarize([log.stages[2]])
    assert up["tasks"] == udf["tasks"] == 2
    assert up["task_s"] == pytest.approx(0.272 + 0.264)
    assert udf["task_s"] == pytest.approx(2.836 + 2.839)
    # everything the map side wrote is read by the UDF stage
    assert up["shuffle_write_bytes"] == udf["shuffle_read_bytes"] == 3679
    assert udf["task_skew"] == pytest.approx(2.839 / 2.8375)
    assert udf["cpu_s"] > 0 and up["spill_bytes"] == 0
    assert eventlog.summarize([]) == {
        "tasks": 0, "task_s": 0, "task_skew": 0.0, "cpu_s": 0, "gc_s": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
    }


def test_jobs_between_uses_submission_time(log):
    j0, j1 = log.jobs[0], log.jobs[1]
    assert log.jobs_between(j0.submit_s, j0.end_s) == [j0]
    assert log.jobs_between(j0.end_s, j1.submit_s) == [j1]
    assert log.jobs_between(0, j0.submit_s - 0.001) == []


def test_blank_lines_and_events_without_metrics_are_skipped():
    lines = [
        "",
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 9}',
        '{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}',
    ]
    log = eventlog.parse_lines(lines)
    assert log.jobs == {} and log.stages == {}
