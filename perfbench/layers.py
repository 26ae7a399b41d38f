"""Traced run: the per-layer table of one workload.

Layers are the engine's modules: ``stream`` (streaming/stream.py, from
the streaming listener's ``durationMs``), ``sink``
(streaming/sink_parquet.py, event-log executions inside each
``apply_merge`` call), ``merge`` (operators/merge.py and dedup.py, timed
in isolation on the same batches), ``similarity`` (functions/similarity.py
and normalize.py, one pass over the workload's matched pairs) and
``executor`` (all tasks that ran during the traced drains).

Stream and sink times are per drain: totals over the traced rounds
divided by their number. Spark's event log is attached to the running
session only around the traced rounds and the probes; untraced rounds
after them give the tracing overhead.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from collections import defaultdict

import eventlog
import harness
import stats
from pyspark.sql.streaming import StreamingQueryListener

MERGE_PROBE_BATCHES = 2
TRIGGER_OVERHEAD = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
SINK_LAYERS = (
    "prepare", "staging_write", "bad_count", "ledger_write", "audit_write", "compaction", "other",
)
MB = 1e6


class Progress(StreamingQueryListener):
    """Keeps each trigger's ``durationMs``."""

    def __init__(self):
        self.durations: list[dict[str, int]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.durations.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _wait_for(listener: Progress, n: int, timeout_s: float = 10.0) -> None:
    """Listener events arrive asynchronously after the drain returns."""
    end = time.monotonic() + timeout_s
    while len(listener.durations) < n and time.monotonic() < end:
        time.sleep(0.05)


def _described(log: eventlog.EventLog, prefix: str) -> list[eventlog.Execution]:
    return [e for e in log.leaf_executions() if e.description.startswith(prefix)]


def _shuffle_mb(log: eventlog.EventLog, execs: list[eventlog.Execution]) -> float:
    return sum(t.shuffle_write for t in log.tasks_of({e.id for e in execs})) / MB


def merge_probe(ctx) -> dict[str, list[float]]:
    """Dedup alone, then the whole merge, on the first batches against
    the initial table, each forced by a noop write."""
    from marc_data_migration_spark.operators.dedup import latest_per_key
    from marc_data_migration_spark.operators.merge import apply_changes

    spark, sc = ctx.spark, ctx.spark.sparkContext
    base = spark.read.parquet(ctx.base_path)
    gate = {k: v for k, v in ctx.wl.merge_opts.items() if k != "audit"}
    out = defaultdict(list)
    for i, path in enumerate(sorted(glob.glob(os.path.join(ctx.feed_dir, "*.parquet")))[:MERGE_PROBE_BATCHES]):
        batch = spark.read.parquet(path)
        sc.setJobDescription(f"perfbench merge.dedup {i}")
        out["dedup_s"].append(harness.noop_write(latest_per_key(batch)))
        sc.setJobDescription(f"perfbench merge.apply {i}")
        out["apply_s"].append(harness.noop_write(apply_changes(base, batch, **gate).final))
    sc.setJobDescription(None)
    return out


def similarity_probe(ctx) -> dict[str, float]:
    """The workload's matched pairs through the Spark UDF path, then
    through the same Python function in-process."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.functions.normalize import normalize_text
    from marc_data_migration_spark.functions.similarity import (
        MAX_CMP_CHARS,
        full_process,
        token_sort_ratio,
        token_sort_ratio_py,
    )

    spark, sc = ctx.spark, ctx.spark.sparkContext
    pairs = ctx.pairs[["new", "old"]]
    norm = spark.createDataFrame(pairs).select(
        normalize_text(F.coalesce(F.col("new"), F.lit(""))).alias("a"),
        normalize_text(F.coalesce(F.col("old"), F.lit(""))).alias("b"),
    )
    sc.setJobDescription("perfbench similarity.udf")
    udf_s = harness.noop_write(norm.select(token_sort_ratio("a", "b")))
    sc.setJobDescription(None)
    local = norm.toPandas()
    t0 = time.perf_counter()
    for a, b in zip(local["a"], local["b"]):
        token_sort_ratio_py(a, b)
    py_s = time.perf_counter() - t0

    def key(s):
        return " ".join(sorted(full_process(s)[:MAX_CMP_CHARS].split()))

    equal = sum(key(a) == key(b) for a, b in zip(local["a"], local["b"]))
    return {"udf_s": udf_s, "py_compute_s": py_s, "pairs": len(local), "equal": equal}


def attach_event_log(spark, log_dir: str):
    """Start Spark's own event-log writer on the running session, so one
    session can drain both traced and untraced. Written
    uncompressed: Spark 4 writes zstd by default and no Python reader
    for it is installed."""
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    os.makedirs(log_dir, exist_ok=True)
    conf = jsc.conf().clone().set("spark.eventLog.compress", "false")
    writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId, jvm.scala.Option.apply(None),
        jvm.java.net.URI("file://" + log_dir), conf, sc._jsc.hadoopConfiguration(),
    )
    writer.start()
    jsc.addSparkListener(writer)
    return writer


def detach_event_log(spark, writer) -> None:
    """Flush every queued event, then close the log."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jsc.removeSparkListener(writer)
    writer.stop()


def traced_run(ctx, seconds: float, peak) -> tuple[dict, list]:
    """Attach the event log and a streaming listener, drain traced
    rounds, detach, drain untraced rounds, then run the isolated probes
    and turn the log into the layer table. The untraced rounds come
    second and the session still warms between rounds, so the overhead
    share is an upper bound. ``peak`` (the PSS sampler) stops before the
    probes, whose Python workers no drain needs."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.streaming.sink_parquet import bucket_expr

    spark = ctx.spark
    drain_log, probe_log = (os.path.join(ctx.work, f"eventlog-{x}") for x in ("drain", "probes"))
    writer = attach_event_log(spark, drain_log)
    listener = Progress()
    spark.streams.addListener(listener)
    harness.measure(ctx, seconds)
    traced = ctx.rounds
    _wait_for(listener, ctx.wl.n_batches * len(traced))
    spark.streams.removeListener(listener)
    detach_event_log(spark, writer)
    ctx.rounds = []
    harness.measure(ctx, seconds)
    untraced = ctx.rounds
    peak_mb = peak.stop()

    writer = attach_event_log(spark, probe_log)
    chunks = sorted(glob.glob(os.path.join(ctx.feed_dir, "*.parquet")))
    touched = [
        spark.read.parquet(p).select(bucket_expr(harness.N_BUCKETS)).distinct().count() for p in chunks
    ]
    merge = merge_probe(ctx)
    sim = similarity_probe(ctx)
    last = traced[-1].sink
    applied = last.lineage().agg(F.sum("rows_applied")).first()[0]
    deduped = last.routed().count()
    detach_event_log(spark, writer)

    log, plog = (eventlog.load(os.path.join(d, os.listdir(d)[0])) for d in (drain_log, probe_log))
    k = len(traced)
    leaf = log.leaf_executions()
    commits = [w for r in traced for w in r.commits]
    sink_execs = eventlog.within(leaf, commits)
    by_layer = defaultdict(float)
    for e in sink_execs:
        by_layer[eventlog.sink_layer(e)] += e.wall_s
    apply_merge_s = sum(b - a for a, b in commits) / 1000.0 / k
    drain_s = sum(r.drain_s for r in traced) / k
    triggers = [d for d in listener.durations if "addBatch" in d]
    overhead_s = sum(d.get(x, 0) for d in triggers for x in TRIGGER_OVERHEAD) / 1000.0 / k
    drain_tasks = [
        t for t in log.tasks
        if any(a <= t.launch_ms <= b for a, b in (r.drain_window_ms for r in traced))
    ]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    dedup_execs = _described(plog, "perfbench merge.dedup")
    apply_execs = _described(plog, "perfbench merge.apply")
    udf_execs = _described(plog, "perfbench similarity.udf")
    n_probe = max(len(merge["apply_s"]), 1)

    m = {
        "stream.triggers": (len(triggers) / k, "count"),
        "stream.add_batch_s": (sum(d["addBatch"] for d in triggers) / 1000.0 / k, "s"),
        "stream.trigger_overhead_s": (overhead_s, "s"),
        "sink.apply_merge_s": (apply_merge_s, "s"),
        "sink.jobs_per_batch": (sum(len(e.jobs) for e in sink_execs) / len(commits), "count"),
        "sink.touched_buckets_per_batch": (statistics.mean(touched), "count"),
        "sink.bytes_written_per_event": (
            sum(t.output_bytes for t in log.tasks_of({e.id for e in sink_execs}))
            / (ctx.feed.n_events * k), "B",
        ),
        "sink.files_written": (log.metric_total(sink_execs, "number of written files") / k, "count"),
    }
    for layer in SINK_LAYERS:
        m[f"sink.{layer}_s"] = (by_layer[layer] / k, "s")
    m["sink.unattributed_s"] = (apply_merge_s - sum(by_layer.values()) / k, "s")
    m.update(
        {
            "merge.dedup_s": (statistics.mean(merge["dedup_s"]), "s"),
            "merge.apply_s": (statistics.mean(merge["apply_s"]), "s"),
            "merge.dedup_shuffle_mb": (_shuffle_mb(plog, dedup_execs) / n_probe, "MB"),
            "merge.join_shuffle_mb": (
                (_shuffle_mb(plog, apply_execs) - _shuffle_mb(plog, dedup_execs)) / n_probe, "MB",
            ),
            "merge.join_task_skew": (
                statistics.mean(eventlog.task_skew(plog, e) for e in apply_execs), "ratio",
            ),
            "merge.applied_share": ((applied or 0) / deduped if deduped else 0.0, "share"),
            "similarity.udf_s": (sim["udf_s"], "s"),
            "similarity.py_compute_s": (sim["py_compute_s"], "s"),
            "similarity.pairs": (sim["pairs"], "count"),
            "similarity.equal_share": (sim["equal"] / sim["pairs"] if sim["pairs"] else 0.0, "share"),
            "similarity.arrow_mb": (
                (
                    plog.metric_total(udf_execs, "data sent to Python workers")
                    + plog.metric_total(udf_execs, "data returned from Python workers")
                ) / MB, "MB",
            ),
            "executor.cpu_s": (sum(t.cpu_ns for t in drain_tasks) / 1e9 / k, "s"),
            "executor.busy_share": (
                sum(t.run_ms for t in drain_tasks) / 1000.0 / (drain_s * k * cores), "share",
            ),
            "executor.shuffle_write_mb": (sum(t.shuffle_write for t in drain_tasks) / MB / k, "MB"),
            "executor.spill_mb": (sum(t.disk_spill for t in drain_tasks) / MB / k, "MB"),
            "executor.gc_s": (sum(t.gc_ms for t in drain_tasks) / 1000.0 / k, "s"),
            "peak_mem_mb": (peak_mb, "MB"),
            "trace.overhead_share": (
                stats.median([r.drain_s for r in traced])
                / stats.median([r.drain_s for r in untraced]) - 1.0, "share",
            ),
            # the stream and sink layers should account for the drain
            "trace.layer_sum_share": ((overhead_s + apply_merge_s) / drain_s, "share"),
        }
    )
    return m, traced + untraced
