"""Benchmark of the transcript CDC engine's tail->commit stream.

    python3 perfbench/run.py --workload cow_reconcile --seed 1 --seconds 15 --trace 0

Each run starts one Spark session (``local[<cpus>]``), stages a seeded
change-feed backlog as one parquet file per micro-batch, and drains it
with ``run_stream`` (``maxFilesPerTrigger=1``, ``availableNow``) into a
fresh table, round after round, for ``--seconds``. The engine is driven
only through its public entry points; outputs are checked against an
independent pandas replay outside the timed window.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: it attaches Spark's event log and a streaming
listener to the session, drains traced, detaches them, drains untraced,
then times the merge and similarity layers in isolation on the same
batches (``layers.py``). The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the per-layer table is also
written to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import feeds  # noqa: E402
import stats  # noqa: E402
from harness import (  # noqa: E402
    OUT_DIR,
    READS_PER_ROUND,
    ROOT,
    Context,
    Round,
    Workload,
    drain,
    measure,
    pin_environment,
    stage,
    start_session,
    stop_session,
)

# Set-up drains one micro-batch of this many events into a separate
# table: the first batches of a fresh session pay JIT and codegen costs
# that a long-running stream does not.
WARM_UP_EVENTS = 2_000


# Why each workload exists is recorded in BENCHMARK.json. A run drains
# one round in the 15-second window: per-batch fixed cost dominates at
# these sizes on a 4-vCPU host, and a whole run (set-up, round, check)
# has to stay under a minute.
WORKLOADS = {
    "cow_reconcile": Workload(
        feeds.cow_reconcile, 30_000, 2, "cow",
        {"audit": "fields", "fuzzy_gate": True, "fuzzy_threshold": 50},
    ),
    # compaction folds the previous batch's delta before each batch
    "mor_trickle": Workload(
        feeds.mor_trickle, 12_000, 3, "mor", {"audit": "full"}, auto_compact_deltas=1
    ),
}


def counts(rounds: list[Round], wl: Workload) -> tuple[int, int]:
    """(attempted, failed) over batches, reads and the check of each round."""
    attempted = len(rounds) * (wl.n_batches + READS_PER_ROUND + 1)
    failed = sum(r.batches_failed + r.reads_failed + r.check_failed for r in rounds)
    return attempted, failed


def end_to_end(ctx: Context, setup_once_s: float) -> dict:
    rounds = ctx.rounds
    commits = [(b - a) / 1000.0 for r in rounds for a, b in r.commits]
    commit = stats.summarize(commits)
    reads = stats.summarize([x for r in rounds for x in r.reads])
    tail = (
        f"p{commit['tail'][0]} {commit['tail'][1]:.4f} s" if "tail" in commit
        else f"no tail percentile: none has {stats.MIN_TAIL_SAMPLES} samples beyond it"
    )
    print(f"rounds {len(rounds)}; batch_commit samples {commit['n']}, {tail}; table_read samples {reads['n']}")
    return {
        "events_per_s": (ctx.feed.n_events * len(rounds) / sum(r.drain_s for r in rounds), "1/s"),
        "batch_commit_s_p50": (commit["p50"], "s"),
        "table_read_s": (reads["p50"], "s"),
        "setup_s": (setup_once_s + stats.median([r.init_s for r in rounds]), "s"),
    }


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import replay
    from procmem import PeakPss

    wl = WORKLOADS[workload]
    feed = wl.make_feed(seed, wl.n_events, wl.n_batches)
    warm_feed = wl.make_feed(seed, WARM_UP_EVENTS, 1)
    # Peak memory is a traced-run figure: the JVM heap grows as the
    # collector decides from pause times, so the peak varies with host
    # speed more than any bound on an end-to-end metric could absorb.
    peak = PeakPss(os.getpid()) if trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        ctx = Context(spark, wl, work, feed, None, None, *stage(feed, work, "feed"))
        warm_dirs = stage(warm_feed, work, "warmup")
        t2 = time.perf_counter()
        warm = drain(ctx, *warm_dirs, 1, n_reads=0)
        setup_once_s = time.perf_counter() - t0
        print(
            f"perfbench: set-up session {t1 - t0:.2f}s staging {t2 - t1:.2f}s "
            f"warm-up init {warm.init_s:.2f}s drain {warm.drain_s:.2f}s",
            file=sys.stderr,
        )
        # the oracle is the benchmark's own cost, outside set-up time
        ctx.expected, ctx.pairs = replay.replay(feed.base, feed.batches, feed.rejected)
        if trace:
            import layers

            metrics, rounds = layers.traced_run(ctx, seconds / 2, peak)
        else:
            measure(ctx, seconds)
            rounds = ctx.rounds
            metrics = end_to_end(ctx, setup_once_s)
    finally:
        if spark is not None:
            stop_session(spark)
        if peak is not None:
            peak.stop()
    if trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"layers-{workload}-seed{seed}.json"), "w") as fh:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, fh, indent=1)
    for name, (value, unit) in metrics.items():
        print(f"{name:36s} {value:14.4f} {unit}")
    attempted, failed = counts(rounds, wl)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "marc_data_migration_spark")):
        print("perfbench: engine package marc_data_migration_spark not found", file=sys.stderr)
        return 2
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    pin_environment(work)
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
