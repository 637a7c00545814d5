"""Seeded input generators. Every corpus, query pool, repeat pattern,
batch and micro-batch comes from one ``numpy.random.Generator`` built
from the ``--seed`` argument; the engine only ever sees the results.

Query specs are plain dicts (``kind`` selects the engine surface) so
they can be repeated verbatim, compared for equality, and replayed
against ``engine/oracle.py``.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["search", "python", "browser", "editor"], dtype=object)


def zipf_cdf(n_words: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n_words + 1, dtype=np.float64), s)
    return np.cumsum(w / w.sum())


def word(rank: int) -> str:
    """Vocabulary word for a Zipf rank (rank 0 is the most frequent)."""
    return f"v{rank}"


def transcripts(rng: np.random.Generator, n_convs: int, vocab: int,
                conv_prefix: str = "c") -> pd.DataFrame:
    """Transcript corpus with the contractual schema, already in
    (conv_id, turn_idx) order, so a row's position is its doc id.
    Token ranks follow Zipf(1.0) over ``vocab`` words."""
    n_turns = rng.integers(1, 13, size=n_convs)
    total = int(n_turns.sum())
    conv = np.repeat(np.arange(n_convs), n_turns)
    turn = np.arange(total) - np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    lens = rng.integers(5, 61, size=total)
    ranks = np.searchsorted(zipf_cdf(vocab), rng.random(int(lens.sum())))
    words = np.array([word(r) for r in range(vocab)], dtype=object)[
        np.minimum(ranks, vocab - 1)]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    roles = ROLES[turn % 3]
    return pd.DataFrame({
        "conv_id": [f"{conv_prefix}{c:08d}" for c in conv],
        "turn_idx": turn.astype(np.int32),
        "role": roles,
        "text": texts,
        "tool": np.where(roles == "tool", TOOLS[(conv + turn) % 4], ""),
        "ts": (np.datetime64("2026-01-01T00:00:00")
               + (np.arange(total) * 60).astype("timedelta64[s]")),
    })


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(t.encode()) for t in pdf["text"]))


def spec_key(spec: dict) -> str:
    return json.dumps(spec, sort_keys=True)


class TermSampler:
    """Query terms over the corpus vocabulary: head (top 50 ranks), mid
    (to a quarter of the vocabulary), tail, and unknown (never in the
    corpus). Unknown and tail terms keep the engine's lexicon memo
    missing for the whole run."""

    MIX = (("head", 0.3), ("mid", 0.35), ("tail", 0.3), ("unknown", 0.05))

    def __init__(self, rng: np.random.Generator, vocab: int):
        self.rng, self.vocab = rng, vocab
        self.p = np.array([p for _, p in self.MIX])

    def term(self) -> str:
        kind = self.MIX[self.rng.choice(len(self.MIX), p=self.p)][0]
        if kind == "head":
            return word(int(self.rng.integers(0, 50)))
        if kind == "mid":
            return word(int(self.rng.integers(50, self.vocab // 4)))
        if kind == "tail":
            return word(int(self.rng.integers(self.vocab // 4, self.vocab)))
        return f"u{int(self.rng.integers(0, 10**9))}"

    def text(self, lo: int, hi: int) -> str:
        return " ".join(self.term() for _ in range(
            int(self.rng.integers(lo, hi + 1))))


# One cycle of the single-query mix: "R" repeats an earlier query
# verbatim, the rest are fresh. Fixed positions keep the mix (a quarter
# repeats, ~60% of fresh queries ``search``) the same on every seed;
# each round of 4 singles holds exactly one repeat.
SINGLE_CYCLE = ("or", "or_min", "bool", "R", "and", "dis_max", "or", "R",
                "or_not", "boosting", "and", "R")


def interactive_single(ts: TermSampler, kind: str) -> dict:
    """A fresh single query of one kind of ``SINGLE_CYCLE``: ``search``
    (OR/AND, 1-6 terms, with min_match or exclude) or ``search_bool``,
    ``search_dis_max``, ``search_boosting``."""
    if kind in ("or", "and"):
        return {"kind": "search", "query": ts.text(1, 6),
                "mode": kind.upper()}
    if kind == "or_min":
        return {"kind": "search", "query": ts.text(3, 6), "mode": "OR",
                "min_match": 2}
    if kind == "or_not":
        return {"kind": "search", "query": ts.text(1, 5), "mode": "OR",
                "exclude": ts.term()}
    if kind == "bool":
        return {"kind": "bool", "must": ts.text(1, 2),
                "should": ts.text(1, 3)}
    if kind == "dis_max":
        return {"kind": "dis_max", "queries": [
            ts.text(1, 2) for _ in range(int(ts.rng.integers(2, 4)))],
            "tie_breaker": 0.3}
    return {"kind": "boosting", "positive": ts.text(1, 3),
            "negative": ts.term(), "negative_boost": 0.5}


def interactive_singles(ts: TermSampler, n: int) -> list[dict]:
    """``n`` singles following ``SINGLE_CYCLE``; every fresh query is
    new, every repeat copies a seeded choice among the earlier ones."""
    out, seen = [], set()
    for i in range(n):
        kind = SINGLE_CYCLE[i % len(SINGLE_CYCLE)]
        if kind == "R":
            out.append(out[int(ts.rng.integers(0, len(out)))])
            continue
        spec = interactive_single(ts, kind)
        while spec_key(spec) in seen:
            spec = interactive_single(ts, kind)
        seen.add(spec_key(spec))
        out.append(spec)
    return out


def batch_entry(ts: TermSampler) -> dict:
    spec = {"query": ts.text(1, 5),
            "mode": "AND" if ts.rng.random() < 0.25 else "OR"}
    if ts.rng.random() < 0.15:
        spec["exclude"] = ts.term()
    return spec


def repeat_share(specs: list[dict]) -> float:
    seen, rep = set(), 0
    for s in specs:
        k = spec_key(s)
        rep += k in seen
        seen.add(k)
    return rep / len(specs) if specs else 0.0


def bigshard_single(rng: np.random.Generator, n_hot: int,
                    min_wand: int) -> dict:
    """Variants over the WAND-regime corpus: ``wq0`` plus at least
    ``min_wand`` hot terms (the cost gate routes these to WAND),
    hot-only subsets, and dis_max / boosting over hot terms (both run
    exhaustively)."""
    def hot(lo: int, hi: int) -> list[str]:
        n = int(rng.integers(lo, hi + 1))
        return [f"h{i}" for i in sorted(rng.choice(n_hot, n, replace=False))]

    r = rng.random()
    if r < 0.55:
        return {"kind": "search", **wand_query(rng, n_hot, min_wand)}
    if r < 0.75:
        # at most 4 hot terms: the rarest list is too dense to seed
        # WAND's threshold, so the cost gate stays exhaustive
        return {"kind": "search", "mode": "OR",
                "query": " ".join(hot(2, 4))}
    if r < 0.88:
        return {"kind": "dis_max", "tie_breaker": 0.3, "queries": [
            " ".join(hot(2, 5)) for _ in range(int(rng.integers(2, 4)))]}
    return {"kind": "boosting", "positive": " ".join(["wq0"] + hot(3, 8)),
            "negative": f"h{int(rng.integers(0, n_hot))}",
            "negative_boost": 0.5}


def wand_query(rng: np.random.Generator, n_hot: int, min_wand: int) -> dict:
    """``wq0`` plus at least ``min_wand`` hot terms, OR: the cost gate
    routes it to WAND. A batch entry as is; a single with ``kind``."""
    n = int(rng.integers(min_wand, n_hot + 1))
    terms = [f"h{i}" for i in sorted(rng.choice(n_hot, n, replace=False))]
    return {"query": " ".join(["wq0"] + terms), "mode": "OR"}


def unique(fresh, n: int) -> list[dict]:
    out, seen = [], set()
    while len(out) < n:
        spec = fresh()
        if spec_key(spec) not in seen:
            seen.add(spec_key(spec))
            out.append(spec)
    return out
