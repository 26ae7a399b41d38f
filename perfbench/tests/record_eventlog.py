"""Record the small event log that test_eventlog.py parses.

    python3 perfbench/tests/record_eventlog.py

Drains two micro-batches of the fuzzy-gated copy-on-write workload with
the event log attached, then keeps only the events and fields the parser
reads, with plans cut to the lines it matches and paths made relative,
and writes ``data/eventlog_cow.jsonl``. Also writes the apply_merge
windows the drain recorded to ``data/eventlog_cow_windows.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import feeds  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402

KEEP_METRICS = {"number of written files", "data sent to Python workers", "data returned from Python workers"}
SQL = "org.apache.spark.sql.execution.ui."


def _kept_metrics(info: dict) -> list[dict]:
    out = [m for m in info.get("metrics", []) if m["name"] in KEEP_METRICS]
    for child in info.get("children", []):
        out += _kept_metrics(child)
    return out


def _plan_info(info: dict) -> dict:
    """The plan tree flattened to one node holding the kept metrics."""
    return {"metrics": _kept_metrics(info), "children": []}


def _plan_text(plan: str, work: str) -> str:
    keep = [
        line.replace(work, "/lake")[:200]
        for line in plan.splitlines()
        if "Arguments: file:" in line or "partial_count(1)" in line or "xxhash64" in line
    ]
    return "\n".join(keep[:4])


def trim(event: dict, work: str, keep_ids: set[int]) -> dict | None:
    kind = event["Event"]
    if kind in (SQL + "SparkListenerSQLExecutionStart", SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
        out = {k: event[k] for k in ("Event", "executionId", "rootExecutionId", "description", "time") if k in event}
        out["description"] = out.get("description", "")[:60].replace(work, "/lake")
        out["physicalPlanDescription"] = _plan_text(event.get("physicalPlanDescription", ""), work)
        out["sparkPlanInfo"] = _plan_info(event.get("sparkPlanInfo", {}))
        return out
    if kind == SQL + "SparkListenerSQLExecutionEnd":
        return {k: event[k] for k in ("Event", "executionId", "time")}
    if kind == SQL + "SparkListenerDriverAccumUpdates":
        ups = [u for u in event["accumUpdates"] if u[0] in keep_ids]
        return {"Event": kind, "executionId": event["executionId"], "accumUpdates": ups} if ups else None
    if kind == "SparkListenerJobStart":
        props = {k: v for k, v in (event.get("Properties") or {}).items() if k == "spark.sql.execution.id"}
        return {"Event": kind, "Job ID": event["Job ID"], "Stage IDs": event["Stage IDs"], "Properties": props}
    if kind == "SparkListenerTaskEnd":
        info, tm = event["Task Info"], event.get("Task Metrics") or {}
        return {
            "Event": kind,
            "Stage ID": event["Stage ID"],
            "Task Info": {
                "Launch Time": info["Launch Time"],
                "Finish Time": info["Finish Time"],
                "Accumulables": [a for a in info.get("Accumulables", []) if a["ID"] in keep_ids],
            },
            "Task Metrics": {
                k: tm[k]
                for k in ("Executor Run Time", "Executor CPU Time", "JVM GC Time", "Disk Bytes Spilled",
                          "Shuffle Write Metrics", "Output Metrics")
                if k in tm
            },
        }
    return None


def main() -> None:
    import layers

    work = os.path.join(harness.OUT_DIR, "record-eventlog")
    shutil.rmtree(work, ignore_errors=True)
    harness.pin_environment(work)
    sys.path.insert(0, harness.ROOT)
    wl = run.WORKLOADS["cow_reconcile"]
    feed = feeds.cow_reconcile(1, 2_000, 2)
    spark = harness.start_session(work)
    try:
        ctx = harness.Context(spark, wl, work, feed, None, None, *harness.stage(feed, work, "feed"))
        writer = layers.attach_event_log(spark, os.path.join(work, "eventlog"))
        r = harness.drain(ctx, ctx.feed_dir, ctx.base_path, 2, n_reads=0)
        layers.detach_event_log(spark, writer)
    finally:
        harness.stop_session(spark)
    (app,) = os.listdir(os.path.join(work, "eventlog"))
    events = []
    for path in eventlog.event_files(os.path.join(work, "eventlog", app)):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh)
    keep_ids = {m["accumulatorId"] for e in events for m in _kept_metrics(e.get("sparkPlanInfo", {}))}
    out = [t for t in (trim(e, work, keep_ids) for e in events) if t is not None]
    os.makedirs(os.path.join(HERE, "data"), exist_ok=True)
    with open(os.path.join(HERE, "data", "eventlog_cow.jsonl"), "w") as fh:
        for t in out:
            fh.write(json.dumps(t) + "\n")
    with open(os.path.join(HERE, "data", "eventlog_cow_windows.json"), "w") as fh:
        json.dump({"commits": r.commits, "drain": r.drain_window_ms}, fh)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
