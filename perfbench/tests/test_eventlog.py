"""The event-log parser and the job -> op attribution, on a committed
fixture in Spark's event-log format (job groups, a skipped stage, a
warm-up job, and streaming jobs tagged with streaming.sql.batchId)."""

from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def log():
    return eventlog.read(str(FIXTURE))


def ids(jobs):
    return sorted(j.job_id for j in jobs)


def test_job_group_attribution_skips_warmup(log):
    by_op = eventlog.jobs_by_op(log)
    assert {op: ids(js) for op, js in by_op.items()} == {0: [0, 1], 1: [4]}
    assert eventlog.op_of(log.jobs[1]) == (0, "warehouse.read")
    assert eventlog.op_of(log.jobs[2]) is None


def test_batch_attribution_counts_each_job_once(log):
    assert {b: ids(js) for b, js in eventlog.jobs_by_batch(log).items()} == {5: [3, 4], 6: [5]}
    by_op = eventlog.attribute(log, {5: 1, 6: 2})
    assert {op: ids(js) for op, js in by_op.items()} == {0: [0, 1], 1: [3, 4], 2: [5]}


def test_op_layers_sums_completed_stages_only(log):
    m = eventlog.op_layers(log, eventlog.jobs_by_op(log)[0])
    assert m["jobs"] == 2
    assert m["stages"] == 2  # stage 1 was skipped: listed by the job, never completed
    assert m["tasks"] == 3
    assert m["executor_run_ms"] == 140
    assert m["executor_cpu_ms"] == pytest.approx(90.0)  # ns in the log
    assert m["gc_ms"] == 5
    assert m["shuffle_write_bytes"] == 250
    assert m["shuffle_read_bytes"] == 250
    assert m["py_sent_bytes"] == 300
    assert m["py_received_bytes"] == 40
    assert m["task_max_over_p50"] == pytest.approx(80 / 60)


def test_dispatch_is_wall_not_covered_by_stages(log):
    op0 = eventlog.jobs_by_op(log)[0]
    # stages run [1005, 1100] and [1150, 1200]: 145 of the 300 ms
    assert eventlog.dispatch_ms(log, op0, 1000, 1300) == pytest.approx(155)
    # a stage interval is clipped to the wall
    assert eventlog.dispatch_ms(log, op0, 1050, 1100) == pytest.approx(0)
    op1 = eventlog.attribute(log, {5: 1})[1]
    assert eventlog.dispatch_ms(log, op1, 1990, 2260) == pytest.approx(120)


def test_empty_op_has_neutral_layers(log):
    m = eventlog.op_layers(log, [])
    assert m["jobs"] == 0 and m["tasks"] == 0 and m["task_max_over_p50"] == 1.0
