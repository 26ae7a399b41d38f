"""Seeded change-feed generators for the stream workloads.

Pure numpy/pandas: the engine only ever sees the parquet chunks these
frames are staged as. Every workload returns a :class:`Feed` holding the
initial table (``base``), one change frame per micro-batch, and, for the
fuzzy-gated workload, the route each change was built to take.

LSNs increase across the whole feed, so the final table state is the
global last writer per key; rows are shuffled inside each batch so the
engine's max-LSN dedup, not arrival order, decides the winner.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

EPOCH = pd.Timestamp("2026-01-01 00:00:00")
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "python", "browser", "calculator", "none"])

# Base text and accepted edits draw on letters a-m; rejected rewrites
# draw on n-z. Disjoint alphabets keep the character LCS of a rejected
# pair down to its shared spaces, so its token-sort ratio is far below
# the gate threshold of 50 by construction, not by chance.
LOW_ALPHABET = "abcdefghijklm"
HIGH_ALPHABET = "nopqrstuvwxyz"


@dataclass
class Feed:
    base: pd.DataFrame  # transcripts schema, lsn = -1
    batches: list[pd.DataFrame]  # changes schema, one frame per micro-batch
    # route -> number of deduped changes the generator built to take it;
    # empty when the workload does not pin routes
    intended_routes: dict[str, int] = field(default_factory=dict)
    rejected: pd.DataFrame | None = None  # keys the gate must reject

    @property
    def n_events(self) -> int:
        return sum(len(b) for b in self.batches)


def _vocab(rng: np.random.Generator, alphabet: str, n: int) -> np.ndarray:
    letters = np.array(list(alphabet))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size=k)))
    return np.array(sorted(words))


def _texts(rng: np.random.Generator, vocab: np.ndarray, n: int, lo: int, hi: int) -> list[str]:
    """``n`` texts of ``lo``..``hi`` words drawn from ``vocab``."""
    lens = rng.integers(lo, hi + 1, size=n)
    flat = rng.choice(vocab, size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(flat[pos : pos + k]))
        pos += k
    return out


def _base(rng: np.random.Generator, n_convs: int, n_turns: int, texts: list[str]) -> pd.DataFrame:
    conv = np.repeat(np.arange(n_convs), n_turns)
    turn = np.tile(np.arange(n_turns), n_convs)
    n = len(conv)
    return pd.DataFrame(
        {
            "conv_id": pd.Series([f"c{c:06d}" for c in conv], dtype=object),
            "turn_idx": turn.astype("int32"),
            "role": ROLES[rng.integers(0, len(ROLES), size=n)],
            "text": texts,
            "tool": TOOLS[rng.integers(0, len(TOOLS), size=n)],
            "ts": EPOCH + pd.to_timedelta(conv * 3600 + turn * 60, unit="s"),
            "lsn": np.full(n, -1, dtype="int64"),
        }
    )


def _changes(
    rng: np.random.Generator,
    ops: np.ndarray,
    conv: np.ndarray,
    turn: np.ndarray,
    texts: list[str] | np.ndarray,
    lsn0: int,
) -> pd.DataFrame:
    n = len(ops)
    lsn = np.arange(lsn0, lsn0 + n, dtype="int64")
    is_del = ops == "D"
    text = pd.Series(texts, dtype=object)
    text[is_del] = None
    role = pd.Series(ROLES[rng.integers(0, len(ROLES), size=n)], dtype=object)
    role[is_del] = None
    tool = pd.Series(TOOLS[rng.integers(0, len(TOOLS), size=n)], dtype=object)
    tool[is_del] = None
    ts = pd.Series(EPOCH + pd.to_timedelta(conv * 3600 + turn * 60, unit="s"))
    ts[is_del] = pd.NaT
    df = pd.DataFrame(
        {
            "op": ops.astype(object),
            "lsn": lsn,
            "commit_ts": EPOCH + pd.to_timedelta(lsn, unit="ms"),
            "conv_id": pd.Series([f"c{c:06d}" for c in conv], dtype=object),
            "turn_idx": turn.astype("int32"),
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
        }
    )
    # out-of-order arrival inside the batch: the LSN decides, not position
    return df.iloc[rng.permutation(n)].reset_index(drop=True)


def _mixed_ops(rng: np.random.Generator, n: int) -> np.ndarray:
    """Update-heavy I/U/D mix: 60% U, 28% I, 12% D."""
    return np.array(["U", "I", "D"])[
        np.searchsorted([0.60, 0.88], rng.random(n), side="right")
    ]


def mor_trickle(
    seed: int, n_events: int, n_batches: int, n_convs: int = 2000, n_turns: int = 12, n_active: int = 40
) -> Feed:
    """Small batches concentrated on a few active conversations."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, LOW_ALPHABET, 400)
    pool = np.array(_texts(rng, vocab, 2048, 4, 16), dtype=object)
    base = _base(rng, n_convs, n_turns, list(pool[rng.integers(0, len(pool), size=n_convs * n_turns)]))
    per = n_events // n_batches
    batches, lsn = [], 1
    for _ in range(n_batches):
        # the active set drifts: each batch picks its own conversations
        active = rng.choice(n_convs, size=n_active, replace=False)
        conv = rng.choice(active, size=per)
        turn = rng.integers(0, 2 * n_turns, size=per)
        texts = pool[rng.integers(0, len(pool), size=per)]
        batches.append(_changes(rng, _mixed_ops(rng, per), conv, turn, texts, lsn))
        lsn += per
    return Feed(base, batches)


GATE_ROUTES = ("updated", "fuzzy-updated", "unmodified")


def _restyle(text: str, rng: np.random.Generator) -> str:
    """Same words, new surface: capitalized first letters and commas or
    full stops that normalization strips again."""
    words = text.split()
    marks = rng.integers(0, 4, size=len(words))
    return " ".join(
        w.capitalize() + ("," if m == 1 else "." if m == 2 else "") if m else w
        for w, m in zip(words, marks)
    )


def _one_word_edit(text: str, far_vocab: np.ndarray, rng: np.random.Generator) -> str:
    """Replace one word by a word sharing no letter with it: the ratio
    rounds to an integer, so a near-identical replacement could still
    score 100."""
    words = text.split()
    words[int(rng.integers(0, len(words)))] = str(far_vocab[rng.integers(0, len(far_vocab))])
    return " ".join(words)


def _clip(text: str, limit: int = 250) -> str:
    return text if len(text) <= limit else text[:limit].rsplit(" ", 1)[0]


def cow_reconcile(seed: int, n_events: int, n_batches: int, n_turns: int = 8) -> Feed:
    """Bulk I/U/D traffic plus fuzzy-gated updates of stored turns.

    Per batch: 75% bulk events on new conversations, a third of them on
    2 hot ones, with keys unique to the batch (so every batch touches
    every bucket and the dedup shuffle is skewed); 20% updates of stored
    turns, each turn updated once in the feed, in three equal classes:
    same words restyled (ratio 100, ``updated``), one word replaced from
    the disjoint alphabet (ratio in [50, 100), ``fuzzy-updated``) and
    all words from it (ratio < 50, ``unmodified``); 5% deletes of other
    stored turns. Stored and incoming texts stay under the similarity
    window of 256 normalized chars, so truncation never decides a route.
    """
    rng = np.random.default_rng([seed, 1])
    n_convs = -(-n_events // (2 * n_turns))  # a quarter of stored turns get touched
    vocab = _vocab(rng, LOW_ALPHABET, 600)
    far_vocab = _vocab(rng, HIGH_ALPHABET, 600)
    pool = np.array(_texts(rng, vocab, 2048, 4, 16), dtype=object)
    n_keys = n_convs * n_turns
    stored = [_clip(t) for t in _texts(rng, vocab, n_keys, 32, 38)]
    base = _base(rng, n_convs, n_turns, stored)
    per = n_events // n_batches
    n_gate, n_del = per // 5, per // 20
    n_bulk = per - n_gate - n_del
    picks = rng.permutation(n_keys)
    hot = n_convs + rng.choice(1000, size=2, replace=False)  # new conversations
    routes = dict.fromkeys(GATE_ROUTES + ("deleted", "non-updated", "delete-noop"), 0)
    rejected, batches, lsn = [], [], 1
    for b in range(n_batches):
        gate_keys = picks[b * n_gate : (b + 1) * n_gate]
        del_keys = picks[n_batches * n_gate + b * n_del :][:n_del]
        cls = rng.integers(0, 3, size=n_gate)
        far = _texts(rng, far_vocab, n_gate, 32, 38)
        gate_texts = [
            _restyle(stored[k], rng) if c == 0
            else _one_word_edit(stored[k], far_vocab, rng) if c == 1
            else _clip(far[i])
            for i, (k, c) in enumerate(zip(gate_keys, cls))
        ]
        for c in cls:
            routes[GATE_ROUTES[c]] += 1
        routes["deleted"] += n_del
        rejected.append(gate_keys[cls == 2])
        # bulk keys are new turns unique to this batch: hot conversations
        # take turn ids from a wide per-batch range, the rest a narrow one
        is_hot = rng.random(n_bulk) < 1 / 3
        cold = n_convs + 1000 + rng.integers(0, 4 * n_convs, size=n_bulk)
        b_conv = np.where(is_hot, rng.choice(hot, size=n_bulk), cold)
        b_turn = b * 4096 + np.where(
            is_hot, rng.integers(0, 4096, size=n_bulk), rng.integers(0, 8, size=n_bulk)
        )
        b_ops = _mixed_ops(rng, n_bulk)
        winners = pd.DataFrame({"c": b_conv, "t": b_turn, "op": b_ops}).drop_duplicates(["c", "t"], keep="last")
        n_noop = int((winners["op"] == "D").sum())
        routes["delete-noop"] += n_noop
        routes["non-updated"] += len(winners) - n_noop
        conv = np.concatenate([gate_keys // n_turns, del_keys // n_turns, b_conv])
        turn = np.concatenate([gate_keys % n_turns, del_keys % n_turns, b_turn])
        ops = np.concatenate([np.full(n_gate, "U"), np.full(n_del, "D"), b_ops])
        texts = gate_texts + [None] * n_del + list(pool[rng.integers(0, len(pool), size=n_bulk)])
        batches.append(_changes(rng, ops, conv, turn, texts, lsn))
        lsn += per
    rej = np.concatenate(rejected)
    rejected_keys = pd.DataFrame(
        {"conv_id": [f"c{c:06d}" for c in rej // n_turns], "turn_idx": (rej % n_turns).astype("int32")}
    )
    return Feed(base, batches, routes, rejected_keys)
