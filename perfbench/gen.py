"""Seeded input generators for the three benchmark workloads.

numpy + pyarrow only: nothing here starts Spark, so inputs are written (and
their ground truth kept) before any clock starts. The same seed gives the
same bytes and the same ground truth.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

def words_for(
    n: int, rng: np.random.Generator, lo: int = 3, hi: int = 9, exclude: tuple[str, ...] = ()
) -> list[str]:
    """`n` distinct lowercase words of `lo`..`hi` letters, none in `exclude`
    (the tokenizer keeps [a-z0-9] runs, so every word survives normalization
    unchanged)."""
    out: list[str] = []
    seen: set[str] = set(exclude)
    while len(out) < n:
        m = 2 * (n - len(out))
        lens = rng.integers(lo, hi + 1, size=m)
        letters = (rng.integers(0, 26, size=(m, hi), dtype=np.uint8) + ord("a")).tobytes()
        for i, ln in enumerate(lens.tolist()):
            w = letters[i * hi : i * hi + ln].decode()
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


# ------------------------------------------------------------ wordcount_running


@dataclass
class WordcountInput:
    path: str
    n_lines: int
    n_tokens: int  # tokens before the stop-token filter
    n_kept: int  # tokens after it: the running_agg's output row count
    counts: dict[str, int]  # exact per-word count of kept tokens
    stop_tokens: tuple[str, ...]
    hot_share: float  # share of kept tokens held by the hottest word


WC_VOCAB = 50_000
WC_ZIPF_S = 1.0
WC_TOKENS_PER_LINE = 10
WC_STOP_TOKENS = 20
WC_STOP_SHARE = 0.1


def wordcount_input(out_dir: str, seed: int, n_tokens: int) -> WordcountInput:
    """Lines of ``WC_TOKENS_PER_LINE`` space-separated tokens. Kept tokens
    are Zipf(s=1) over a 50k-word vocabulary (the hottest word holds ~9%);
    ``WC_STOP_SHARE`` of positions hold one of a planted set of stop tokens
    the pipeline filters out."""
    rng = np.random.default_rng([seed, 1])
    words = pa.array(words_for(WC_VOCAB + WC_STOP_TOKENS, rng), pa.string())
    n_lines = n_tokens // WC_TOKENS_PER_LINE
    n_tokens = n_lines * WC_TOKENS_PER_LINE
    word_ix = rng.choice(WC_VOCAB, size=n_tokens, p=zipf_probs(WC_VOCAB, WC_ZIPF_S))
    is_stop = rng.random(n_tokens) < WC_STOP_SHARE
    tok_ix = word_ix.copy()
    tok_ix[is_stop] = WC_VOCAB + rng.integers(0, WC_STOP_TOKENS, size=int(is_stop.sum()))
    offsets = pa.array(np.arange(0, n_tokens + 1, WC_TOKENS_PER_LINE, dtype=np.int32))
    lines = pc.binary_join(pa.ListArray.from_arrays(offsets, words.take(pa.array(tok_ix))), " ")
    bc = np.bincount(word_ix[~is_stop], minlength=WC_VOCAB)
    vocab = words.to_pylist()
    counts = {vocab[i]: int(bc[i]) for i in np.flatnonzero(bc)}
    n_kept = int(bc.sum())
    path = os.path.join(out_dir, "lines.parquet")
    pq.write_table(pa.table({"line": lines}), path, row_group_size=65536)
    return WordcountInput(
        path=path,
        n_lines=n_lines,
        n_tokens=n_tokens,
        n_kept=n_kept,
        counts=counts,
        stop_tokens=tuple(vocab[WC_VOCAB:]),
        hot_share=float(bc.max() / n_kept),
    )


# -------------------------------------------------------- stream_running_reduce


@dataclass
class StreamPlan:
    """Events of an open-loop run, laid out per tick, with ground truth.

    Event ``i`` is due at ``tick_of[i] * tick_s`` seconds after the schedule
    starts; its ``created`` stamp is that due time in microseconds plus its
    index within the tick, so ``created`` is unique and increases with
    arrival. ``prefix[i]`` is the key's exact running sum (micro-units)
    through event ``i``.
    """

    rate: int
    tick_s: float
    per_tick: int
    user_id: np.ndarray
    micros: np.ndarray
    tick_of: np.ndarray
    offset_in_tick: np.ndarray
    prefix: np.ndarray
    n_keys: int

    @property
    def n_events(self) -> int:
        return int(self.user_id.size)

    @property
    def n_ticks(self) -> int:
        return int(self.n_events // self.per_tick)

    def created(self, t0_us: int) -> np.ndarray:
        return t0_us + (self.tick_of * int(self.tick_s * 1e6)) + self.offset_in_tick

    def tick_table(self, k: int, t0_us: int) -> pa.Table:
        sl = slice(k * self.per_tick, (k + 1) * self.per_tick)
        return pa.table(
            {
                "user_id": pa.array(self.user_id[sl], pa.int64()),
                "value": pa.array(self.micros[sl] / 1e6, pa.float64()),
                "created": pa.array(self.created(t0_us)[sl], pa.int64()),
            }
        )


STREAM_KEYS = 1_000_000
STREAM_ZIPF_S = 1.1
STREAM_SCHEMA = "user_id bigint, value double, created bigint"


def running_prefix(keys: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Per-key running sum of `values` in array order (exact int64)."""
    order = np.argsort(keys, kind="stable")
    k, v = keys[order], values[order]
    cs = np.cumsum(v)
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    base = np.repeat(cs[starts] - v[starts], np.diff(np.r_[starts, k.size]))
    out = np.empty_like(cs)
    out[order] = cs - base
    return out


def stream_plan(seed: int, rate: int, seconds: float, tick_s: float) -> StreamPlan:
    """Zipf(s=1.1) keys over a 1M-key space: every tick holds hot keys and a
    long tail of keys updated once. Values are whole micro-units in
    [0.000001, 10), so ``round(value * 1e6)`` recovers them exactly."""
    rng = np.random.default_rng([seed, 2])
    per_tick = max(1, int(round(rate * tick_s)))
    n_ticks = max(1, int(round(seconds / tick_s)))
    n = per_tick * n_ticks
    # Zipf ranks via inverse CDF over the finite key space; ranks map to
    # scattered ids so hot keys are not also the smallest ids.
    cdf = np.cumsum(zipf_probs(STREAM_KEYS, STREAM_ZIPF_S))
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), STREAM_KEYS - 1)
    ids = rng.permutation(STREAM_KEYS).astype(np.int64) + 1
    user_id = ids[ranks]
    micros = rng.integers(1, 10_000_000, size=n, dtype=np.int64)
    tick_of = np.repeat(np.arange(n_ticks, dtype=np.int64), per_tick)
    offset = np.tile(np.arange(per_tick, dtype=np.int64), n_ticks)
    return StreamPlan(
        rate=rate,
        tick_s=tick_s,
        per_tick=per_tick,
        user_id=user_id,
        micros=micros,
        tick_of=tick_of,
        offset_in_tick=offset,
        prefix=running_prefix(user_id, micros),
        n_keys=int(np.unique(user_id).size),
    )


def write_atomic(table: pa.Table, directory: str, name: str) -> None:
    """Write a parquet file under a dot-name (the file source skips hidden
    files) and rename it into place, so the source never lists a partial file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


# ------------------------------------------------------------ curation_neardup


@dataclass
class CurationInput:
    path: str
    n_docs: int
    gate_fail_ids: np.ndarray
    family_of: dict[int, int] = field(repr=False)  # doc_id -> family (families of >= 2)
    family_sizes: dict[int, int] = field(repr=False)
    n_singletons: int = 0


# The English stop words of the gopher gate
# (mini_flink_spark.functions.text.LANG_STOPWORDS["en"]; a test pins the copy).
GATE_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
CUR_VOCAB = 40_000
CUR_ZIPF_S = 0.8  # word frequencies: common words recur, so shingles do
CUR_DOC_TOKENS = (100, 200)
CUR_FAMILY_SIZE = (2, 6)
CUR_FAMILY_DOC_SHARE = 0.3  # share of docs that belong to a planted family
CUR_FAIL_SHARE = 0.1  # share of docs that fail the gopher gate
CUR_EDITS = 1  # token substitutions per family member
# The corpus is written as shards, as a crawl is. A corpus this size in one
# file is one scan split, and the whole pipeline then runs as one task.
CUR_SHARDS = 4


def _passing_doc(rng: np.random.Generator, vocab: np.ndarray, cdf: np.ndarray, stop: np.ndarray) -> np.ndarray:
    """Tokens that pass every gopher rule: 100-200 Zipf-drawn tokens of 3-9
    letters, >= 2 stop words, and few repeats."""
    n = int(rng.integers(*CUR_DOC_TOKENS, endpoint=True))
    toks = vocab[np.searchsorted(cdf, rng.random(n))]
    pos = rng.choice(n, size=4, replace=False)
    toks[pos] = stop[rng.integers(0, stop.size, size=4)]
    return toks


def _failing_doc(rng: np.random.Generator, vocab: np.ndarray, stop: np.ndarray, kind: int) -> np.ndarray:
    if kind == 0:  # too short: fewer than 10 tokens
        return vocab[rng.integers(0, vocab.size, size=int(rng.integers(3, 9)))]
    if kind == 1:  # no stop words at all
        return vocab[rng.integers(0, vocab.size, size=80)]
    # repetitive: 80 tokens over 5 distinct words (10*5 <= 3*80)
    return np.concatenate([vocab[rng.integers(0, vocab.size, size=5)]] * 16)


def curation_input(out_dir: str, seed: int, n_docs: int) -> CurationInput:
    """Planted near-duplicate families (members are the family's base text
    with ``CUR_EDITS`` token substitution: 3-shingle Jaccard >= 0.88 to each
    other, far above the 0.5 threshold), planted gate failures (short,
    stop-word-free, or repetitive), and singletons. Words are Zipf(0.8) over
    a 40k vocabulary, so unrelated docs share only common-word shingles
    (Jaccard near 0) and families sit far apart."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(words_for(CUR_VOCAB, rng, exclude=GATE_STOPWORDS), dtype=object)
    stop = np.array(GATE_STOPWORDS, dtype=object)
    cdf = np.cumsum(zipf_probs(CUR_VOCAB, CUR_ZIPF_S))
    cdf[-1] = 1.0
    docs: list[np.ndarray] = []
    family_of: dict[int, int] = {}
    family_sizes: dict[int, int] = {}
    n_fail = int(n_docs * CUR_FAIL_SHARE)
    n_family_docs = int(n_docs * CUR_FAMILY_DOC_SHARE)
    fam = 0
    while len(docs) < n_family_docs:
        size = int(rng.integers(*CUR_FAMILY_SIZE, endpoint=True))
        base = _passing_doc(rng, vocab, cdf, stop)
        for _ in range(size):
            member = base.copy()
            pos = rng.choice(np.flatnonzero(~np.isin(member, stop)), size=CUR_EDITS, replace=False)
            member[pos] = vocab[rng.integers(0, vocab.size, size=CUR_EDITS)]
            family_of[len(docs)] = fam
            docs.append(member)
        family_sizes[fam] = size
        fam += 1
    fail_start = len(docs)
    for i in range(n_fail):
        docs.append(_failing_doc(rng, vocab, stop, i % 3))
    n_single = max(0, n_docs - len(docs))
    for _ in range(n_single):
        docs.append(_passing_doc(rng, vocab, cdf, stop))
    # doc ids are a seeded permutation, so families are not id-contiguous
    ids = rng.permutation(len(docs)).astype(np.int64)
    texts = [" ".join(d) for d in docs]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
        }
    )
    path = os.path.join(out_dir, "docs")
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(docs), CUR_SHARDS + 1).astype(int)
    for i in range(CUR_SHARDS):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return CurationInput(
        path=path,
        n_docs=len(docs),
        gate_fail_ids=np.sort(ids[fail_start : fail_start + n_fail]),
        family_of={int(ids[i]): f for i, f in family_of.items()},
        family_sizes=family_sizes,
        n_singletons=n_single,
    )


def run_stream_generator(directory: str, seed: int, rate: int, seconds: float,
                         tick_s: float, t0: float) -> dict:
    """Open-loop writer: file ``k`` is due at ``t0 + k * tick_s`` (wall
    clock) and is written then, however far behind the consumer is.
    Returns the schedule audit: per-tick lateness of the finished rename."""
    import time

    plan = stream_plan(seed, rate, seconds, tick_s)
    t0_us = int(round(t0 * 1e6))
    tables = [plan.tick_table(k, t0_us) for k in range(plan.n_ticks)]
    late = []
    for k, table in enumerate(tables):
        due = t0 + k * tick_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_atomic(table, directory, f"tick-{k:06d}.parquet")
        late.append(time.time() - due)
    return {"ticks": len(late), "max_lateness_s": max(late), "p50_lateness_s": float(np.median(late))}


if __name__ == "__main__":
    import argparse
    import json
    import sys

    ap = argparse.ArgumentParser(description="stream_running_reduce's open-loop file writer")
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--tick", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()
    audit = run_stream_generator(a.dir, a.seed, a.rate, a.seconds, a.tick, a.t0)
    json.dump(audit, sys.stdout)
