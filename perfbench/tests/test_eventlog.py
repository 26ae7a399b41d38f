"""The event-log parser on a small recorded log: two micro-batches of
the fuzzy-gated copy-on-write workload (see record_eventlog.py)."""

import json
import os

import eventlog
import pytest

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def log():
    return eventlog.load(os.path.join(DATA, "eventlog_cow.jsonl"))


@pytest.fixture(scope="module")
def windows():
    with open(os.path.join(DATA, "eventlog_cow_windows.json")) as fh:
        return json.load(fh)


def test_micro_batch_executions_are_left_out(log):
    roots = {e.root for e in log.executions.values() if e.root != e.id}
    assert len(roots) == 2  # one foreachBatch execution per micro-batch
    leaf_ids = {e.id for e in log.leaf_executions()}
    assert not roots & leaf_ids
    assert all(e.end_ms >= e.start_ms for e in log.leaf_executions())


def test_each_batch_runs_the_sink_layers_once(log, windows):
    for start, end in windows["commits"]:
        layers = sorted(eventlog.sink_layer(e) for e in eventlog.within(log.leaf_executions(), [(start, end)]))
        # touched-bucket collect, staging write, bad count, lineage
        # (the ledger), then the routed and field-diff audit appends
        assert layers == [
            "audit_write", "audit_write", "bad_count", "ledger_write", "prepare", "staging_write",
        ]


def test_sink_time_fits_inside_apply_merge(log, windows):
    for start, end in windows["commits"]:
        inside = eventlog.within(log.leaf_executions(), [(start, end)])
        assert 0 < sum(e.wall_s for e in inside) <= (end - start) / 1000.0


def test_jobs_and_tasks_attach_to_their_execution(log, windows):
    staging = [e for e in log.leaf_executions() if eventlog.sink_layer(e) == "staging_write"]
    assert len(staging) == 2
    for e in staging:
        assert e.jobs
        tasks = log.tasks_of({e.id})
        assert tasks and sum(t.output_bytes for t in tasks) > 0
        assert eventlog.task_skew(log, e) >= 1.0


def test_sql_metrics_from_driver_and_task_updates(log):
    leaf = log.leaf_executions()
    writes = [e for e in leaf if e.out_path is not None]
    # one file per touched bucket at least, plus lineage and audits
    assert log.metric_total(writes, "number of written files") >= len(writes)
    staging = [e for e in writes if eventlog.sink_layer(e) == "staging_write"]
    # the fuzzy gate's pandas UDF runs inside the staging write
    assert log.metric_total(staging, "data sent to Python workers") > 0


def test_out_path_and_classification(log):
    paths = {eventlog.sink_layer(e): e.out_path for e in log.leaf_executions() if e.out_path}
    assert paths["ledger_write"].endswith("/lineage")
    assert "_staging_batch_" in paths["staging_write"]
    assert eventlog.sink_layer(eventlog.Execution(1, 1, 0, out_path="file:/t/data_compacting")) == "compaction"
    assert eventlog.sink_layer(eventlog.Execution(1, 1, 0, out_path="file:/t/_delta_staging_batch_3")) == "staging_write"
    assert eventlog.sink_layer(eventlog.Execution(1, 1, 0, plan="Scan parquet")) == "other"
