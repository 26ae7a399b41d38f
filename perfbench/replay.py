"""Independent pandas replay of a generated feed: the expected final
table, computed without Spark or engine code, batch by batch the way
the stream applies it (per key the max-LSN change of a batch wins, a
change applies only when its LSN is newer than the row's, and ``D``
removes the row)."""

from __future__ import annotations

import pandas as pd

KEYS = ["conv_id", "turn_idx"]
PAYLOAD = ["role", "text", "tool", "ts"]


def replay(
    base: pd.DataFrame,
    batches: list[pd.DataFrame],
    rejected: pd.DataFrame | None = None,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return ``(final, pairs)``.

    ``final`` is the table after every batch, sorted by key, with the
    transcripts columns. ``pairs`` holds one row per matched update, the
    (incoming text, stored text) pairs a fuzzy gate evaluates.
    ``rejected`` lists keys whose update the gate must refuse; their rows
    keep the stored version."""
    state = base.set_index(KEYS)[PAYLOAD + ["lsn"]]
    reject_idx = pd.MultiIndex.from_frame(rejected[KEYS]) if rejected is not None else None
    pairs = []
    for batch in batches:
        win = batch.sort_values("lsn").drop_duplicates(KEYS, keep="last").set_index(KEYS)
        stored = state.reindex(win.index)
        has_row = stored["lsn"].notna()
        fresh = ~has_row | (win["lsn"] > stored["lsn"])
        is_del = win["op"] == "D"
        matched = fresh & has_row & ~is_del
        pairs.append(
            pd.DataFrame({"new": win.loc[matched, "text"], "old": stored.loc[matched, "text"]})
        )
        apply = fresh & ~is_del
        if reject_idx is not None:
            apply &= ~win.index.isin(reject_idx)
        gone = win.index[fresh & is_del]
        state = state.drop(gone.intersection(state.index))
        upd = win.loc[apply, PAYLOAD + ["lsn"]]
        state = pd.concat([state.drop(upd.index.intersection(state.index)), upd])
    final = state.reset_index().sort_values(KEYS, kind="stable").reset_index(drop=True)
    final["turn_idx"] = final["turn_idx"].astype("int32")
    final["lsn"] = final["lsn"].astype("int64")
    return final, pd.concat(pairs, ignore_index=True)


def compare(expected: pd.DataFrame, got: pd.DataFrame) -> int:
    """Number of turns whose ``text`` or ``lsn`` differ, in
    (conv_id, turn_idx) order; missing and extra turns each count."""
    cols = KEYS + ["text", "lsn"]
    e = expected[cols].sort_values(KEYS, kind="stable").reset_index(drop=True)
    g = got[cols].sort_values(KEYS, kind="stable").reset_index(drop=True)
    m = e.merge(g, on=KEYS, how="outer", suffixes=("_e", "_g"), indicator=True)
    both = m["_merge"] == "both"
    differ = both & (
        (m["text_e"].fillna("\0") != m["text_g"].fillna("\0")) | (m["lsn_e"] != m["lsn_g"])
    )
    return int((~both).sum() + differ.sum())
