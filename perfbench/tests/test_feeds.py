import sys
import os

import pandas as pd

import feeds
import replay

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from marc_data_migration_spark.functions.similarity import token_sort_ratio_py  # noqa: E402


def test_same_seed_same_feed():
    a, b = feeds.cow_reconcile(5, 4_000, 2), feeds.cow_reconcile(5, 4_000, 2)
    pd.testing.assert_frame_equal(a.base, b.base)
    for x, y in zip(a.batches, b.batches):
        pd.testing.assert_frame_equal(x, y)
    assert not a.batches[0].equals(feeds.cow_reconcile(6, 4_000, 2).batches[0])


def test_lsns_increase_across_batches():
    f = feeds.mor_trickle(1, 5_000, 5)
    assert [b["lsn"].min() > a["lsn"].max() for a, b in zip(f.batches, f.batches[1:])] == [True] * 4


def test_gate_routes_are_decided_by_construction():
    """Each matched pair's ratio lands in the class the generator meant.
    The texts hold only letters, spaces, commas and full stops, for
    which the engine's normalize_text and full_process agree, so the
    in-process ratio is the one the gate computes."""
    f = feeds.cow_reconcile(7, 8_000, 2)
    _, pairs = replay.replay(f.base, f.batches, f.rejected)
    got = {"updated": 0, "fuzzy-updated": 0, "unmodified": 0}
    for new, old in zip(pairs["new"], pairs["old"]):
        r = token_sort_ratio_py(new, old)
        got["updated" if r == 100 else "fuzzy-updated" if r >= 50 else "unmodified"] += 1
    assert got == {k: f.intended_routes[k] for k in got}
    assert len(f.rejected) == f.intended_routes["unmodified"]
