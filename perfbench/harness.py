"""Rounds of the stream benchmark: session, staging, drain, check.

A round inits a fresh table from the staged base, drains the staged
backlog through ``run_stream`` into it, times full reads of the result
and checks it against the pandas replay. ``run.py`` (end-to-end) and
``layers.py`` (traced) both measure rounds.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

import feeds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

N_BUCKETS = 32
READS_PER_ROUND = 5
DRIVER_MEM = "4g"


@dataclass(frozen=True)
class Workload:
    make_feed: Callable[..., feeds.Feed]
    n_events: int
    n_batches: int
    sink_mode: str  # "cow" (bucket rewrite) or "mor" (delta files)
    merge_opts: dict
    auto_compact_deltas: int | None = None


@dataclass
class Round:
    init_s: float
    drain_s: float
    drain_window_ms: tuple[float, float]
    commits: list[tuple[float, float]]  # apply_merge (start_ms, end_ms)
    reads: list[float]
    sink: object
    batches_failed: int = 0
    reads_failed: int = 0
    check_failed: bool = False


@dataclass
class Context:
    """Everything one run shares across rounds."""

    spark: object
    wl: Workload
    work: str
    feed: feeds.Feed
    expected: object  # pandas frame from replay
    pairs: object  # matched-update text pairs from replay
    feed_dir: str
    base_path: str
    rounds: list[Round] = field(default_factory=list)
    n_round: int = 0


def _now_ms() -> float:
    return time.time() * 1000.0


def pin_environment(work: str) -> None:
    """Fix the session from outside, before the JVM starts: cores,
    driver heap, scratch dirs, and an import path that Python workers
    inherit (pandas-UDF tasks unpickle engine functions by module)."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_session(work: str):
    from marc_data_migration_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it to exit. The
    JVM exits when the pipe pyspark launched it with closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def make_sink(spark, wl: Workload, path: str):
    from marc_data_migration_spark.streaming.sink_parquet import (
        MorParquetMergeSink,
        ParquetMergeSink,
    )

    if wl.sink_mode == "mor":
        return MorParquetMergeSink(
            spark, path, n_buckets=N_BUCKETS, auto_compact_deltas=wl.auto_compact_deltas
        )
    return ParquetMergeSink(spark, path, n_buckets=N_BUCKETS)


def stage(feed: feeds.Feed, work: str, name: str) -> tuple[str, str]:
    """Write the backlog (one parquet file per micro-batch) and the base
    table; return their paths."""
    from marc_data_migration_spark.streaming.stream import stage_feed_chunks

    feed_dir = os.path.join(work, name, "feed")
    stage_feed_chunks(feed.batches, feed_dir)
    base_path = os.path.join(work, name, "base.parquet")
    base = feed.base.copy()
    base["ts"] = base["ts"].astype("datetime64[us]")
    base.to_parquet(base_path, index=False)
    return feed_dir, base_path


def noop_write(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def drain(ctx: Context, feed_dir: str, base_path: str, n_batches: int, n_reads: int = READS_PER_ROUND) -> Round:
    """One round: fresh table and checkpoint, init, drain, timed reads."""
    from marc_data_migration_spark.streaming.stream import run_stream

    ctx.n_round += 1
    d = os.path.join(ctx.work, f"round{ctx.n_round}")
    sink = make_sink(ctx.spark, ctx.wl, os.path.join(d, "lake"))
    t0 = time.perf_counter()
    sink.init(ctx.spark.read.parquet(base_path))
    init_s = time.perf_counter() - t0

    commits: list[tuple[float, float]] = []
    apply_merge = sink.apply_merge

    def timed_apply_merge(batch_df, batch_id, **opts):
        start = _now_ms()
        try:
            return apply_merge(batch_df, batch_id, **opts)
        finally:
            commits.append((start, _now_ms()))

    sink.apply_merge = timed_apply_merge
    w0, t0 = _now_ms(), time.perf_counter()
    try:
        run_stream(
            ctx.spark, feed_dir, sink, os.path.join(d, "ckpt"),
            max_files_per_trigger=1, **ctx.wl.merge_opts,
        )
    except Exception:  # a failed batch stops the stream; count it
        traceback.print_exc()
    drain_s = time.perf_counter() - t0
    window = (w0, _now_ms())
    failed = n_batches - len(sink.applied_batch_ids())
    reads, reads_failed = [], 0
    for _ in range(n_reads):
        try:
            reads.append(noop_write(sink.read()))
        except Exception:
            traceback.print_exc()
            reads_failed += 1
    return Round(init_s, drain_s, window, commits, reads, sink, failed, reads_failed)


def check(ctx: Context, r: Round) -> int:
    """Mismatches between the drained table and the replay, plus route
    counts that differ from the generator's intent (fuzzy gate)."""
    import replay

    got = r.sink.read().select("conv_id", "turn_idx", "text", "lsn").toPandas()
    bad = replay.compare(ctx.expected, got)
    if ctx.feed.intended_routes:
        counts = {row["route"]: row["count"] for row in r.sink.routed().groupBy("route").count().collect()}
        bad += sum(counts.get(k, 0) != v for k, v in ctx.feed.intended_routes.items())
        bad += sum(1 for k in counts if k not in ctx.feed.intended_routes)
    if bad:
        print(f"perfbench: round check found {bad} mismatches", file=sys.stderr)
    return bad


def measure(ctx: Context, seconds: float) -> None:
    """Drain rounds until another would not finish inside ``seconds``."""
    t0 = time.perf_counter()
    while True:
        r = drain(ctx, ctx.feed_dir, ctx.base_path, ctx.wl.n_batches)
        r.check_failed = check(ctx, r) > 0
        ctx.rounds.append(r)
        print(
            f"perfbench: round init {r.init_s:.2f}s drain {r.drain_s:.2f}s commits "
            f"{[round((b - a) / 1000, 2) for a, b in r.commits]} reads {[round(x, 3) for x in r.reads]}",
            file=sys.stderr,
        )
        elapsed = time.perf_counter() - t0
        if r.batches_failed or elapsed * (len(ctx.rounds) + 1) / len(ctx.rounds) > seconds:
            return


