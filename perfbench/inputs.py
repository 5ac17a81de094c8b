"""Seeded input generator: a Zipf-law text corpus and ordered event files.

Everything the program under test reads is produced here from one seed
and written with pyarrow, so generating load never competes with the
program for the Spark scheduler.  The same seed gives byte-identical
inputs.

Why not the repo's documents fixture: its 5,000 documents draw on 31
distinct words, so every posting list is thousands of ids long, every
2-char suggestion bucket holds one or two terms and a lookup cache would
hit on every call.  A Zipf vocabulary of ~30,000 words gives a realistic
long tail (most terms rare, a few very hot) spread over several hundred
2-letter prefix buckets.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The quality-gate stopwords of ``pipelines.prepare_training_corpus``,
#: placed at the top Zipf ranks as in natural text.
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")

EVENT_TYPES = ("view", "click", "search", "add_to_cart", "purchase")
EVENT_TYPE_P = (0.45, 0.25, 0.15, 0.10, 0.05)

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int = 20_000
    vocab: int = 30_000
    zipf_s: float = 1.0
    min_tokens: int = 20
    max_tokens: int = 100
    exact_dup_share: float = 0.05
    near_dup_share: float = 0.05
    absent_words: int = 2_000


@dataclass(frozen=True)
class EventSpec:
    events_per_file: int = 2_500
    file_span_minutes: int = 10
    n_users: int = 5_000


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    vocab: list[str]
    absent: list[str]
    props: dict = field(default_factory=dict)


def _words(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    """``n`` distinct lowercase words of 3-10 letters not in ``taken``."""
    out: list[str] = []
    while len(out) < n:
        lens = rng.integers(3, 11, size=2 * (n - len(out)))
        letters = rng.choice(_LETTERS, size=int(lens.sum()))
        pos = 0
        for ln in lens:
            w = "".join(letters[pos : pos + ln])
            pos += ln
            if w not in taken:
                taken.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def zipf_ranks(rng: np.random.Generator, n_ranks: int, s: float, size: int):
    """0-based ranks drawn from a finite Zipf(s) law over ``n_ranks``."""
    w = 1.0 / np.arange(1, n_ranks + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_ranks - 1)


def make_corpus(seed: int, out_dir: str, spec: CorpusSpec = CorpusSpec()) -> Corpus:
    """Write ``<out_dir>/documents.parquet`` (doc_id, text) and return it.

    Base documents draw 20-100 tokens from the Zipf vocabulary.  Then
    ``exact_dup_share`` of the documents are verbatim copies of a base
    document and ``near_dup_share`` are copies with one token replaced;
    the copies get fresh ids and the rows are shuffled, so a duplicate
    may carry a lower id than its original.
    """
    rng = np.random.default_rng([seed, 1])
    taken = set(STOPWORDS)
    words = _words(rng, spec.vocab - len(STOPWORDS) + spec.absent_words, taken)
    vocab = list(STOPWORDS) + words[: spec.vocab - len(STOPWORDS)]
    absent = words[spec.vocab - len(STOPWORDS) :]
    vocab_arr = np.array(vocab, dtype=object)

    n_exact = int(round(spec.n_docs * spec.exact_dup_share))
    n_near = int(round(spec.n_docs * spec.near_dup_share))
    n_base = spec.n_docs - n_exact - n_near
    lens = rng.integers(spec.min_tokens, spec.max_tokens + 1, size=n_base)
    ranks = zipf_ranks(rng, spec.vocab, spec.zipf_s, int(lens.sum()))
    toks = vocab_arr[ranks]
    texts: list[str] = []
    pos = 0
    for ln in lens:
        texts.append(" ".join(toks[pos : pos + ln]))
        pos += ln

    for src in rng.integers(0, n_base, size=n_exact):
        texts.append(texts[src])
    near_src = rng.integers(0, n_base, size=n_near)
    near_rank = zipf_ranks(rng, spec.vocab, spec.zipf_s, n_near)
    for src, r in zip(near_src, near_rank):
        t = texts[src].split(" ")
        t[int(rng.integers(0, len(t)))] = vocab[r]
        texts.append(" ".join(t))

    order = rng.permutation(spec.n_docs)
    texts = [texts[i] for i in order]
    doc_ids = list(range(1, spec.n_docs + 1))
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(
        pa.table(
            {"doc_id": pa.array(doc_ids, pa.int64()), "text": pa.array(texts)}
        ),
        path,
        row_group_size=4096,
    )
    props = {
        "docs": spec.n_docs,
        "vocabulary": spec.vocab,
        "zipf_s": spec.zipf_s,
        "tokens_per_doc": [spec.min_tokens, spec.max_tokens],
        "exact_dup_share": spec.exact_dup_share,
        "near_dup_share": spec.near_dup_share,
        "bytes": os.path.getsize(path),
        "text_bytes": sum(len(t) for t in texts),
    }
    return Corpus(doc_ids, texts, vocab, absent, props)


def make_event_files(
    seed: int, staging_dir: str, n_files: int, spec: EventSpec = EventSpec()
) -> list[str]:
    """Write ``n_files`` event parquet files in event-time order.

    File ``i`` holds ``events_per_file`` events with timestamps inside
    its own ``file_span_minutes`` slice, the slices consecutive.  No
    event is older than the newest event of any earlier file minus the
    2 h watermark, so the streaming rollup drops nothing and equals the
    batch rollup of all files.  ``value`` is a whole number of cents,
    so its DECIMAL(38,6) sum is exact on both sides.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(staging_dir, exist_ok=True)
    t0_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = spec.file_span_minutes * 60 * 1_000_000
    n = spec.events_per_file
    paths = []
    for i in range(n_files):
        ts = np.sort(t0_us + i * span_us + rng.integers(0, span_us, size=n))
        etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
        table = pa.table(
            {
                "event_id": pa.array(np.arange(i * n, (i + 1) * n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(
                    rng.integers(1, spec.n_users + 1, size=n), pa.int64()
                ),
                "event_type": pa.array([EVENT_TYPES[k] for k in etype]),
                "value": pa.array(rng.integers(0, 100_000, size=n) / 100.0),
                "props": pa.array(["{}"] * n),
            }
        )
        path = os.path.join(staging_dir, f"events_{i:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
