import pandas as pd
import replay

TS = pd.Timestamp("2026-01-01")


def _base():
    return pd.DataFrame(
        {
            "conv_id": ["a", "b", "c"],
            "turn_idx": pd.Series([0, 0, 0], dtype="int32"),
            "role": ["user"] * 3,
            "text": ["a0", "b0", "c0"],
            "tool": ["none"] * 3,
            "ts": [TS] * 3,
            "lsn": pd.Series([-1, -1, -1], dtype="int64"),
        }
    )


def _batch(rows):
    """rows: (op, lsn, conv_id, turn_idx, text), in arrival order."""
    df = pd.DataFrame(rows, columns=["op", "lsn", "conv_id", "turn_idx", "text"])
    df["role"] = df["tool"] = None
    df["ts"] = TS
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


FEED = [
    # arrival order is not LSN order: lsn 4 wins for ("a", 0)
    _batch([("U", 4, "a", 0, "a4"), ("U", 1, "a", 0, "a1"), ("D", 2, "b", 0, None), ("I", 3, "d", 0, "d3")]),
    # re-insert the deleted turn; delete a turn that never existed
    _batch([("I", 5, "b", 0, "b5"), ("D", 6, "e", 0, None), ("U", 7, "c", 0, "c7")]),
]


def test_replay_is_last_writer_per_batch_with_deletes():
    final, pairs = replay.replay(_base(), FEED)
    got = final.set_index("conv_id")[["text", "lsn"]].to_dict("index")
    assert got == {
        "a": {"text": "a4", "lsn": 4},
        "b": {"text": "b5", "lsn": 5},
        "c": {"text": "c7", "lsn": 7},
        "d": {"text": "d3", "lsn": 3},
    }
    # matched updates only: a (batch 1) and c (batch 2); b's re-insert
    # hits a deleted row and d is new
    assert sorted(zip(pairs["new"], pairs["old"])) == [("a4", "a0"), ("c7", "c0")]


def test_rejected_keys_keep_the_stored_row():
    rejected = pd.DataFrame({"conv_id": ["a"], "turn_idx": pd.Series([0], dtype="int32")})
    final, pairs = replay.replay(_base(), FEED, rejected)
    row = final.set_index("conv_id").loc["a"]
    assert (row["text"], row["lsn"]) == ("a0", -1)
    assert len(pairs) == 2  # the gate still evaluated the pair


def test_compare_counts_changed_missing_and_extra_turns():
    expected, _ = replay.replay(_base(), FEED)
    assert replay.compare(expected, expected.sample(frac=1, random_state=1)) == 0
    got = expected.copy()
    got.loc[got["conv_id"] == "a", "text"] = "stale"
    got.loc[got["conv_id"] == "c", "lsn"] = 1
    got = got[got["conv_id"] != "d"]
    extra = expected.iloc[[0]].assign(conv_id="z")
    assert replay.compare(expected, pd.concat([got, extra])) == 4
