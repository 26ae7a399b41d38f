"""Exactly-once MERGE sink over bucketed parquet — operator S7
(SURVEY.md §2.1) for the sandbox, where Iceberg jars are unavailable
(SURVEY.md §7 risk 1). Behavior contract shared with sink_iceberg:
``apply_merge(batch_df)`` is idempotent per batch_id and per LSN.

Scale design: the target table is hash-bucketed on conv_id into
``bucket=<k>`` directory partitions. A batch MERGE:

1. computes the set of buckets its keys touch (one tiny distinct agg —
   at most n_buckets values to the driver);
2. reads ONLY those partitions (partition pruning — the scan filter is
   on the partition column, so untouched data is never read);
3. full-outer MERGE-applies the batch against that slice;
4. rewrites ONLY the touched partitions: staged, then swapped in by
   directory rename.

At 100 TB with n_buckets sized so a bucket ≈ a few GB, a batch that
touches 1% of conversations rewrites ~1% of the table — the same I/O
shape as an Iceberg copy-on-write MERGE with bucket partitioning.
Schema evolution is additive: new columns appear on rewritten buckets;
``mergeSchema=true`` on read presents old buckets with nulls.

The lineage table doubles as the exactly-once ledger: a batch_id that
already has lineage rows is a replay and is skipped outright (the
LSN guard in the MERGE itself makes even a forced re-apply converge).

Both sinks share one commit path (``ParquetMergeSink.apply_merge``);
they differ only in what they stage and where the publish step sits
relative to the ledger commit:

- copy-on-write: stage the touched buckets → swap them into ``data/``
  → ledger → audits;
- merge-on-read: stage the batch's delta → ledger → audits → publish
  the delta by rename into ``delta/``.

Every write (``apply_merge``, ``compact_data``, ``compact_audit``) and
every open first runs ``_recover()``, which brings the directory back
to a committed state. A retry on the same sink object after a failed
write therefore sees exactly what a restarted process would.
"""

from __future__ import annotations

import json
import logging
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.merge import MergeResult, apply_changes
from ..plans.lineage import batch_lineage
from ..schemas import KEY_COLS, TRANSCRIPTS_SCHEMA

BUCKET_COL = "bucket"
PROPS_FILE = "_table_properties.json"
AUDIT_MODES = ("fields", "full", "lineage")

log = logging.getLogger(__name__)


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def check_audit_mode(audit: str) -> None:
    if audit not in AUDIT_MODES:
        raise ValueError(f"unknown audit mode: {audit}")


def warn_ledger_skip(batch_id: int, table: str) -> None:
    """Visible marker for the commit-order trade every sink makes: if
    the previous attempt died between the ledger commit and the audit
    appends, this skip is where that batch's audit rows are
    permanently lost — operators grep for it."""
    log.warning(
        "batch_id=%s already in ledger for %s — skipping replay "
        "(audit rows for this batch may be absent if the prior "
        "attempt failed between ledger commit and audit append)",
        batch_id, table,
    )


def load_table_properties(path: str) -> dict | None:
    """Persisted table-layout properties ({sink_mode, n_buckets}), or
    None for a path that has never been written. Layout is a property of
    the TABLE, not of the invocation — per-run CLI flags must not be
    able to silently re-bucket the base or read a merge-on-read table
    through the copy-on-write view (stale reads)."""
    p = os.path.join(path, PROPS_FILE)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def open_sink(
    spark: SparkSession,
    path: str,
    sink_mode: str | None = None,
    n_buckets: int | None = None,
) -> "ParquetMergeSink":
    """Open the sink for ``path`` using its persisted table properties.
    Explicit arguments are validated against the persisted layout (a
    mismatch raises — re-bucketing is a deliberate maintenance rewrite,
    not a flag); for a brand-new table they set it (defaults cow/32)."""
    props = load_table_properties(path)
    if props is not None:
        mode = props["sink_mode"]
        if sink_mode is not None and sink_mode != mode:
            raise ValueError(
                f"table {path} was initialized with sink_mode={mode!r}; "
                f"got --sink {sink_mode!r}. Reading a '{mode}' table through "
                f"the '{sink_mode}' view would return stale/incorrect state."
            )
        sink_mode = mode  # n_buckets validated against props by __init__
    cls = MorParquetMergeSink if (sink_mode or "cow") == "mor" else ParquetMergeSink
    return cls(spark, path, n_buckets=n_buckets)


class ParquetMergeSink:
    """Copy-on-write sink. Commit protocol per batch: stage the new
    version of the touched buckets → swap them into ``data/`` → lineage
    append (THE ledger commit) → audits. Every step before the ledger
    is undone or kept by ``_recover()`` so the replay converges; a crash
    after it may lose the batch's audit rows, never doubles them."""

    SINK_MODE = "cow"
    STAGING_PREFIX = "_staging_batch_"
    STAGED_ROWS = "final"  # the MergeResult field the staging write persists

    def __init__(self, spark: SparkSession, path: str, n_buckets: int | None = None):
        self.spark = spark
        self.path = path
        self.data_path = os.path.join(path, "data")
        self.lineage_path = os.path.join(path, "lineage")
        self.routed_path = os.path.join(path, "routed")
        self.bad_path = os.path.join(path, "bad")
        self.field_audit_path = os.path.join(path, "field_audit")
        self.audit_paths = {
            "lineage": self.lineage_path,
            "routed": self.routed_path,
            "bad": self.bad_path,
            "field_audit": self.field_audit_path,
        }
        self.n_buckets = self._resolve_layout(n_buckets)
        self._applied_ids: set[int] | None = None  # lazy ledger cache
        self._recover()

    def _resolve_layout(self, n_buckets: int | None) -> int:
        """Validate this sink against the table's persisted layout.
        n_buckets is a TABLE property: the bucket directory layout and
        the bucket filter in _read_buckets must agree, or base rows are
        silently missed and the LSN idempotence guard is bypassed."""
        props = load_table_properties(self.path)
        if props is None:
            # A table that predates the props file: defaulting to 32
            # over data actually bucketed differently would make
            # _read_buckets miss base rows and silently bypass the LSN
            # idempotence guard. The bucket=N directory set alone can't
            # recover the layout either — a sparse table whose top
            # buckets happen to be empty makes max+1 UNDER-count, and
            # _persist_layout would then lock the wrong value in. But
            # the bucket value is a pure function of conv_id
            # (bucket_expr), so the write-time layout is VERIFIABLE
            # from the data itself: one aggregate scan counts, per
            # candidate count, the rows whose stored bucket disagrees
            # with bucket_expr(candidate). Only the true layout scores
            # zero on a non-trivial table.
            observed = self._observed_max_bucket()
            if observed is None:
                return 32 if n_buckets is None else n_buckets
            if n_buckets is not None and observed >= n_buckets:
                raise ValueError(
                    f"table {self.path} has bucket directories up to "
                    f"bucket={observed} but was opened with "
                    f"n_buckets={n_buckets}; rows above the flag's "
                    "range would be invisible to the merge."
                )
            cands: list[int] = []
            for n in ([n_buckets] if n_buckets is not None else []) + [
                observed + 1,
                32,
            ]:
                if n > observed and n not in cands:
                    cands.append(n)
            consistent = self._consistent_bucket_counts(cands)
            if n_buckets is not None:
                if n_buckets not in consistent:
                    raise ValueError(
                        f"table {self.path} has no {PROPS_FILE} and its rows "
                        f"do not match n_buckets={n_buckets} "
                        "(bucket != bucket_expr(conv_id) for some rows); "
                        "the flag contradicts the write-time layout."
                    )
                return n_buckets
            if len(consistent) == 1:
                log.warning(
                    "table %s has no %s; n_buckets=%d verified against the "
                    "data (stored bucket == bucket_expr(conv_id) for every "
                    "row; candidates tested: %s)",
                    self.path, PROPS_FILE, consistent[0], cands,
                )
                return consistent[0]
            if not consistent:
                raise ValueError(
                    f"table {self.path} has no {PROPS_FILE} and no candidate "
                    f"bucket count in {cands} matches its rows; open with an "
                    "explicit n_buckets matching the write-time layout."
                )
            raise ValueError(
                f"table {self.path} has no {PROPS_FILE} and multiple bucket "
                f"counts {consistent} are consistent with its (small) data; "
                "open with an explicit n_buckets to disambiguate."
            )
        if props["sink_mode"] != self.SINK_MODE:
            raise ValueError(
                f"table {self.path} has sink_mode={props['sink_mode']!r} but was "
                f"opened as {type(self).__name__} ({self.SINK_MODE!r}); use "
                f"open_sink() or the matching sink class."
            )
        if n_buckets is not None and n_buckets != props["n_buckets"]:
            raise ValueError(
                f"table {self.path} is bucketed n_buckets={props['n_buckets']}; "
                f"got n_buckets={n_buckets}. Changing bucket count requires a "
                f"full rewrite (init on a fresh path), not a flag."
            )
        return props["n_buckets"]

    def _observed_max_bucket(self) -> int | None:
        """Highest bucket=N directory under data/, or None for a table
        with no data yet."""
        if not os.path.isdir(self.data_path):
            return None
        seen = [
            int(name.split("=", 1)[1])
            for name in os.listdir(self.data_path)
            if name.startswith(f"{BUCKET_COL}=")
        ]
        return max(seen) if seen else None

    def _consistent_bucket_counts(self, candidates: list[int]) -> list[int]:
        """Candidates whose bucket_expr reproduces the STORED bucket of
        every base row — one aggregate scan for all candidates (only
        runs on the rare open of a legacy props-less table)."""
        df = self.spark.read.parquet(self.data_path)
        aggs = [
            F.sum(
                (F.col(BUCKET_COL) != bucket_expr(n)).cast("long")
            ).alias(f"_m{i}")
            for i, n in enumerate(candidates)
        ]
        row = df.agg(*aggs).first()
        return [n for i, n in enumerate(candidates) if not row[f"_m{i}"]]

    def _persist_layout(self) -> None:
        """Record {sink_mode, n_buckets} at table create (idempotent)."""
        if load_table_properties(self.path) is not None:
            return
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, PROPS_FILE + ".tmp")
        with open(tmp, "w") as fh:
            json.dump({"sink_mode": self.SINK_MODE, "n_buckets": self.n_buckets}, fh)
        os.replace(tmp, os.path.join(self.path, PROPS_FILE))

    # -- target state ---------------------------------------------------
    def exists(self) -> bool:
        return os.path.isdir(self.data_path) and any(
            name.startswith(f"{BUCKET_COL}=") for name in os.listdir(self.data_path)
        )

    def init(self, base: DataFrame) -> None:
        self._persist_layout()
        self._write_buckets(base, self.data_path, self.n_buckets)

    def _write_buckets(self, df: DataFrame, path: str, n_parts: int) -> None:
        """The one bucketed-layout writer (init, the staging write of
        both sinks, compact_data). Bucket first in the sort: the
        dynamic-partition writer requires its ordering to be prefixed by
        the partition column, else it inserts its own bucket-only sort
        and destroys the key clustering. Key-clustered bucket files let
        parquet row-group min/max stats on (conv_id, turn_idx) skip row
        groups on point/range reads — the local analogue of Iceberg's
        sort order."""
        (
            df.withColumn(BUCKET_COL, bucket_expr(self.n_buckets))
            .repartition(max(n_parts, 1), BUCKET_COL)
            .sortWithinPartitions(BUCKET_COL, *KEY_COLS)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )

    def read(self) -> DataFrame:
        if not self.exists():  # fully-deleted table
            return self.spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(self.data_path)
            .drop(BUCKET_COL)
        )

    def _read_buckets(self, buckets: list[int]) -> DataFrame:
        df = self.spark.read.option("mergeSchema", "true").parquet(self.data_path)
        return df.filter(F.col(BUCKET_COL).isin(buckets)).drop(BUCKET_COL)

    # -- exactly-once ledger ---------------------------------------------
    def _ledger(self) -> set[int]:
        """The in-memory applied-batch ledger. The parquet ledger is read
        ONCE per sink lifetime (resume path); afterwards the set is
        maintained by apply_merge — a per-batch ledger re-read would be
        an O(batches²) scan over a long-lived stream."""
        if self._applied_ids is None:
            if not os.path.isdir(self.lineage_path):
                self._applied_ids = set()
            else:
                rows = (
                    self.spark.read.parquet(self.lineage_path)
                    .select("batch_id")
                    .distinct()
                    .collect()
                )
                self._applied_ids = {r.batch_id for r in rows}
        return self._applied_ids

    def applied_batch_ids(self) -> set[int]:
        return set(self._ledger())  # copy: callers must not alias the ledger

    # -- MERGE -----------------------------------------------------------
    def apply_merge(
        self,
        batch_df: DataFrame,
        batch_id: int,
        audit: str = "full",
        **merge_opts,
    ) -> MergeResult | None:
        """Idempotently MERGE one change batch. Returns None if the
        batch_id was already applied (checkpoint replay).

        ``audit`` — "full" (default) also persists the per-change routed
        audit + quarantine tables (reference S10 per-record audit logs);
        "fields" additionally writes the per-field old→new diff table
        (reference fields-audit log, record_update.py:626-641) — the
        most detailed and most expensive mode; "lineage" writes only the
        aggregated lineage ledger (always on — it is the exactly-once
        guard and the north_rule metrics table). The full audit costs
        ~25% of batch wall time (BENCH/BASELINE.md component profile);
        at maximum-throughput tailing it is the first thing to shed."""
        check_audit_mode(audit)
        self._recover()
        if batch_id in self._ledger():
            warn_ledger_skip(batch_id, self.path)
            return None
        self._persist_layout()  # streams onto an un-init'd path create the table
        self._before_batch()
        batch_df, touched = self._prepare_batch(batch_df)
        base = self._read_buckets(touched) if self.exists() else self._empty_base(batch_df)
        # persist_join: the dedup+join+gate plan is evaluated exactly once
        # (by the staging write below); routed/lineage/bad then project
        # from the cache instead of re-running the merge.
        res = apply_changes(
            base,
            batch_df,
            persist_join=True,
            field_audit=(audit == "fields"),
            emit_delta=(self.STAGED_ROWS == "delta"),
            **merge_opts,
        )
        # Stage the batch's output invisibly to readers. Writing straight
        # over data_path would race: the merge plan reads the very files
        # a direct overwrite deletes. The staging write also materializes
        # the persisted join, so the commit below never re-runs the merge.
        staging = os.path.join(self.path, f"{self.STAGING_PREFIX}{batch_id}")
        self._write_buckets(getattr(res, self.STAGED_ROWS), staging, len(touched))
        self._commit(res, staging, batch_id, touched, audit)
        batch_df.unpersist()
        res.unpersist()
        return res

    def _before_batch(self) -> None:
        """Maintenance hook run before a batch reads the table."""

    def _commit(
        self, res: MergeResult, staging: str, batch_id: int, touched: list[int], audit: str
    ) -> None:
        """COW: swap the staged buckets in, then the ledger and audits."""
        self._swap_buckets(staging, batch_id, touched)
        self._commit_lineage_and_audits(res, batch_id, audit)

    def _swap_buckets(self, staging: str, batch_id: int, touched: list[int]) -> None:
        """Crash-safe swap: the old bucket is moved aside (atomic rename)
        rather than rmtree'd, so no crash window can lose a bucket's
        base rows; ``_recover()`` restores any bucket still in trash with
        no replacement in place. The trash is deleted BEFORE the ledger
        write, so a post-ledger recovery can never resurrect pre-merge
        data. (Iceberg's snapshot commit is the atomic version of this
        swap — sink_iceberg.py.)"""
        os.makedirs(self.data_path, exist_ok=True)
        trash_dir = os.path.join(self.path, f"_trash_batch_{batch_id}")
        os.makedirs(trash_dir, exist_ok=True)
        for b in touched:
            dst = os.path.join(self.data_path, f"{BUCKET_COL}={b}")
            src = os.path.join(staging, f"{BUCKET_COL}={b}")
            if os.path.isdir(dst):
                os.replace(dst, os.path.join(trash_dir, f"{BUCKET_COL}={b}"))
            if os.path.isdir(src):  # absent = bucket is now empty
                os.replace(src, dst)
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(trash_dir, ignore_errors=True)

    def _roll_forward(self, staging: str, batch_id: int) -> None:
        """Finish a ledgered batch whose staged dir survived. COW swaps
        before the ledger, so such a batch is already live: only the
        leftover is dropped."""
        shutil.rmtree(staging, ignore_errors=True)

    def _prepare_batch(self, batch_df: DataFrame) -> tuple[DataFrame, list[int]]:
        """Shared pre-merge setup: key-repartition a thin micro-batch
        (parallelism now; the dedup groupBy + lookup join downstream
        reuse this exact hash-partitioning), persist it, and collect
        the touched bucket ids (bounded by n_buckets)."""
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        if batch_df.rdd.getNumPartitions() < n_part:
            batch_df = batch_df.repartition(n_part, *KEY_COLS)
        batch_df = batch_df.persist()
        touched = [
            r.b
            for r in batch_df.select(
                bucket_expr(self.n_buckets).alias("b")
            ).distinct().collect()
        ]
        return batch_df, touched

    def _commit_lineage_and_audits(self, res: MergeResult, batch_id: int, audit: str) -> None:
        """Shared commit tail for both sinks. The lineage append IS the
        ledger commit (exactly-once guard), so it precedes the audit
        appends: a crash between them loses that batch's audit rows (the
        batch will NOT replay), but a replayed batch can never append
        audit rows twice — duplication silently corrupts every
        per-change count downstream, loss is visible in the ledger.
        Appends coalesce to few files: they project from the join cache
        the staging write already materialized, and a long-lived stream
        otherwise accretes shuffle-partition-count tiny files per batch
        (measured 4.5× on the routed append)."""
        n_bad = res.bad.count()
        lineage = batch_lineage(
            res.routed, batch_id, n_partitions=self.n_buckets, n_bad=n_bad
        )
        # repartition(1), NOT coalesce(1) — measured 7.2 s vs 0.9 s per
        # 500k-event batch for this ~33-row write. Decomposed (BENCH/
        # BASELINE.md r05): the dominant cost was the summary row's
        # createDataFrame Python partitions evaluated sequentially in
        # the coalesced task (~4.6 s; since fixed at the source —
        # batch_lineage builds the summary JVM-side via range(1)), plus
        # coalesce propagating the 1-partition constraint below the
        # final agg's exchange so the partial agg scanned the cached
        # join in one task (~1.7 s). repartition keeps both parallel
        # while still committing one lineage file per batch.
        lineage.repartition(1).write.mode("append").parquet(self.lineage_path)
        # The lineage append IS the commit — reconcile the in-memory
        # ledger cache NOW, not at the end of apply_merge: if an audit
        # append below raises and the stream retries the batch on this
        # same sink object, a stale cache would replay the whole tail
        # and append lineage + audit rows a second time.
        self._ledger().add(batch_id)
        if audit in ("full", "fields"):
            (
                res.routed.coalesce(8)
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(self.routed_path)
            )
            if n_bad:
                res.bad.coalesce(8).withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(self.bad_path)
        if audit == "fields" and res.field_diffs is not None:
            # projects from the persisted join — no merge re-execution
            (
                res.field_diffs.coalesce(8)
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(self.field_audit_path)
            )

    def _empty_base(self, batch_df: DataFrame) -> DataFrame:
        payload = [c for c in batch_df.columns if c not in ("op", "lsn", "commit_ts")]
        empty = batch_df.select(*payload, F.col("lsn")).limit(0)
        return empty.select(*KEY_COLS, *[c for c in empty.columns if c not in KEY_COLS])

    def lineage(self) -> DataFrame:
        # mergeSchema: lakes written before rows_quarantined existed mix
        # lineage schemas within one directory
        return self.spark.read.option("mergeSchema", "true").parquet(self.lineage_path)

    def routed(self) -> DataFrame:
        return self.spark.read.parquet(self.routed_path)

    def field_audit(self) -> DataFrame:
        """Per-field old→new diff rows (audit='fields' batches only)."""
        return self.spark.read.parquet(self.field_audit_path)

    # -- maintenance -------------------------------------------------------
    def compact_audit(self, target_files: int = 8) -> dict[str, int]:
        """Maintenance pass for the append-only side tables: each batch
        appends a few small parquet files to lineage/routed/bad, and a
        long-lived stream accretes thousands (slow listings, tiny
        reads). Rewrites each table into ≤``target_files`` files via a
        staging dir + directory swap (the same commit pattern as the
        data buckets; Iceberg's rewrite_data_files is the production
        analogue). Content is unchanged — the exactly-once ledger reads
        identically afterwards. Returns files-before per table."""
        self._recover()
        before: dict[str, int] = {}
        for name, path in self.audit_paths.items():
            if not os.path.isdir(path):
                continue
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            before[name] = len(files)
            if len(files) <= target_files:
                continue
            (
                # mergeSchema: the table may mix files written before a
                # lineage-schema addition — sampling one old footer
                # would otherwise silently drop the newer columns
                self.spark.read.option("mergeSchema", "true")
                .parquet(path)
                .coalesce(target_files)
                .write.mode("overwrite")
                .parquet(path + "_compacting")
            )
            _swap_dir(path)
        return before

    # -- crash recovery --------------------------------------------------------
    def _recover(self) -> None:
        """Bring the table back to a committed state after a failed
        write, in this process or a crashed one. Runs at open and before
        every write, so a same-object retry starts from the same state a
        restart would.

        - Directory swaps (``_swap_dir``): a live dir missing next to
          its ``<path>_old`` is restored; ``_compacting`` and ``_old``
          leftovers are dropped.
        - Bucket swap: a bucket in ``_trash_batch_*`` with no
          replacement in place is restored, so the replay sees the
          pre-merge base (otherwise its non-batch rows would be lost);
          one with its replacement in place keeps the new data — the
          un-ledgered replay converges via the LSN guard.
        - Staged batches: a ledgered one is finished by
          ``_roll_forward``; an un-ledgered one is dropped and the
          batch replays.
        """
        for live in (self.data_path, *self.audit_paths.values()):
            old = live + "_old"
            if not os.path.isdir(live) and os.path.isdir(old):
                os.replace(old, live)
            shutil.rmtree(live + "_compacting", ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
        for name in os.listdir(self.path) if os.path.isdir(self.path) else []:
            full = os.path.join(self.path, name)
            if name.startswith("_trash_batch_"):
                for entry in os.listdir(full):
                    dst = os.path.join(self.data_path, entry)
                    if entry.startswith(f"{BUCKET_COL}=") and not os.path.isdir(dst):
                        os.makedirs(self.data_path, exist_ok=True)
                        os.replace(os.path.join(full, entry), dst)
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(self.STAGING_PREFIX):
                bid = name[len(self.STAGING_PREFIX):]
                if bid.isdigit() and int(bid) in self._ledger():
                    self._roll_forward(full, int(bid))
                else:
                    shutil.rmtree(full, ignore_errors=True)


def _swap_dir(path: str) -> None:
    """Replace ``path`` by its staged copy ``<path>_compacting``: move the
    live dir aside to ``<path>_old``, rename the copy in, drop ``_old``.
    A crash between the two renames leaves ``_old`` alone, which
    ``_recover()`` restores."""
    old = path + "_old"
    if os.path.isdir(path):
        os.replace(path, old)
    os.replace(path + "_compacting", path)
    shutil.rmtree(old, ignore_errors=True)


class MorParquetMergeSink(ParquetMergeSink):
    """Merge-on-read variant of the local sink — the Iceberg MoR
    analogue (write.merge.mode='merge-on-read' + positional/equality
    deletes). ``apply_merge`` writes ONLY a per-batch delta file set
    (merged rows for applied upserts + 'D' markers, partitioned by
    bucket) instead of rewriting every touched bucket: write I/O per
    batch is O(batch rows), not O(touched-bucket bytes) — the copy-on-
    write sink's dominant cost and the honest production write shape.

    Readers reconstruct current state last-writer-wins over
    (base ∪ deltas): row_number() over the key ordered by batch seq
    then LSN, drop 'D' winners. Read cost grows with the delta count;
    ``compact_data()`` folds deltas back into the bucketed base
    (rewrite_data_files analogue).

    Commit protocol per batch: stage delta → lineage append (THE
    ledger commit) → audits → atomic rename into delta/. A crash
    before the ledger replays the batch (staged dir is invisible and
    gets rewritten, no audit rows written yet → no duplicates); a
    crash after the ledger is rolled FORWARD by ``_recover()`` (the
    staged delta is complete by construction) — audit rows of that
    batch may be lost but never doubled, the same contract as the
    copy-on-write sink.
    """

    SINK_MODE = "mor"
    STAGING_PREFIX = "_delta_staging_batch_"
    STAGED_ROWS = "delta"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int | None = None,
        auto_compact_deltas: int | None = None,
    ):
        """``auto_compact_deltas`` — scheduled-maintenance knob (Iceberg's
        rewrite_data_files analogue, run inline): at the start of each
        batch, if the published delta count has reached this threshold,
        all deltas are folded into the bucketed base before the batch
        reads the view. Bounds the read-side merge fan-in of a
        long-lived stream at ``threshold`` deltas; None (default)
        leaves compaction to an explicit compact_data() call. An
        operational knob, not a table-layout property — safe to vary
        per run. Must be >= 1."""
        if auto_compact_deltas is not None and auto_compact_deltas < 1:
            raise ValueError("auto_compact_deltas must be >= 1")
        self.auto_compact_deltas = auto_compact_deltas
        self.delta_path = os.path.join(path, "delta")
        super().__init__(spark, path, n_buckets)

    # -- merge-on-read view ------------------------------------------------
    def _delta_batch_dirs(self) -> list[str]:
        """Published delta dirs in ASCENDING numeric batch order — the
        order compact_data deletes them in, which is what makes a crash
        mid-deletion safe (see compact_data)."""
        if not os.path.isdir(self.delta_path):
            return []
        names = [n for n in os.listdir(self.delta_path) if n.startswith("batch_id=")]
        return [
            os.path.join(self.delta_path, n)
            for n in sorted(names, key=lambda n: int(n.split("=", 1)[1]))
        ]

    def exists(self) -> bool:
        # _publish_delta never publishes an empty dir, so existence of a
        # batch dir implies parquet files — no O(total files) walk.
        return super().exists() or bool(self._delta_batch_dirs())

    def _mor_view(self, buckets: list[int] | None) -> DataFrame:
        """Current state = last writer per key over base ∪ deltas.
        Spark 4 plans row_number()=1 as WindowGroupLimit (partial+final)
        so the reconstruction is map-side-limited, not a full sort."""
        parts = []
        if super().exists():
            b = self.spark.read.option("mergeSchema", "true").parquet(self.data_path)
            if buckets is not None:
                b = b.filter(F.col(BUCKET_COL).isin(buckets))
            parts.append(
                b.drop(BUCKET_COL)
                .withColumn("_op", F.lit("U"))
                .withColumn("_seq", F.lit(-1).cast("long"))
            )
        if self._delta_batch_dirs():
            d = self.spark.read.option("mergeSchema", "true").parquet(self.delta_path)
            if buckets is not None:
                d = d.filter(F.col(BUCKET_COL).isin(buckets))
            parts.append(
                d.drop(BUCKET_COL).withColumn(
                    "_seq", F.col("batch_id").cast("long")
                ).drop("batch_id")
            )
        if not parts:
            return self.spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
        view = parts[0]
        for p in parts[1:]:
            view = view.unionByName(p, allowMissingColumns=True)
        w = Window.partitionBy(*KEY_COLS).orderBy(
            F.col("_seq").desc(), F.col("lsn").desc()
        )
        return (
            view.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("_op") != "D"))
            .drop("_rn", "_op", "_seq")
        )

    def read(self) -> DataFrame:
        return self._mor_view(None)

    def _read_buckets(self, buckets: list[int]) -> DataFrame:
        return self._mor_view(buckets)

    # -- MERGE (delta write) -----------------------------------------------
    def _before_batch(self) -> None:
        # Scheduled maintenance for deltas accumulated by PREVIOUS
        # batches, run BEFORE this batch reads the view: folding here
        # both bounds the merge fan-in this batch pays and keeps the
        # returned MergeResult valid — compacting after the return
        # value was built would delete delta files its lazy plans still
        # reference (FileNotFound on any post-return evaluation).
        if (
            self.auto_compact_deltas is not None
            and len(self._delta_batch_dirs()) >= self.auto_compact_deltas
        ):
            self.compact_data()

    def _commit(
        self, res: MergeResult, staging: str, batch_id: int, touched: list[int], audit: str
    ) -> None:
        """MoR: the ledger and audits, then publish the staged delta."""
        self._commit_lineage_and_audits(res, batch_id, audit)
        self._publish_delta(staging, batch_id)

    def _roll_forward(self, staging: str, batch_id: int) -> None:
        # ledgered ⇒ the staged write completed before the ledger append
        self._publish_delta(staging, batch_id)

    def _publish_delta(self, staging: str, batch_id: int) -> None:
        live = os.path.join(self.delta_path, f"batch_id={batch_id}")
        has_files = any(
            f.endswith(".parquet") for _, _, fs in os.walk(staging) for f in fs
        )
        if not has_files:  # all-stale/all-bad batch: nothing to publish
            shutil.rmtree(staging, ignore_errors=True)
            return
        os.makedirs(self.delta_path, exist_ok=True)
        if os.path.isdir(live):  # duplicate publish (recovery overlap)
            shutil.rmtree(staging, ignore_errors=True)
        else:
            os.replace(staging, live)

    # -- compaction ----------------------------------------------------------
    def compact_data(self) -> int:
        """Fold all published deltas into the bucketed base (Iceberg
        rewrite_data_files analogue); returns the number of delta
        batches folded. Crash-safe at every window: the staged base is
        written from the MoR view before the directory swap; restoring
        the old base (``_recover()``) is correct because the deltas are
        only deleted after the new base is live. Deltas are deleted in
        ASCENDING batch order, so a crash mid-deletion can only leave a
        NEWEST-suffix of deltas on disk — each surviving delta row
        either ties with the folded base value (same last writer) or IS
        the last writer, so the view is unchanged. (Deleting in
        lexicographic order — 'batch_id=10' before 'batch_id=2' — could
        leave an OLD delta alive after newer ones were removed, and its
        _seq would outrank the folded base: silent regression.)"""
        self._recover()
        batches = self._delta_batch_dirs()  # ascending numeric order
        if not batches:
            return 0
        self._write_buckets(self.read(), self.data_path + "_compacting", self.n_buckets)
        _swap_dir(self.data_path)
        for b in batches:
            shutil.rmtree(b, ignore_errors=True)
        return len(batches)
