"""Pure-Python reference results over the generated inputs.

Each ``check_*`` function reads what the program wrote (with pyarrow,
never through Spark) or returned, compares it with the reference and
returns a list of mismatch descriptions; an empty list means correct.
Generated text is lowercase words joined by single spaces, so the
engine's tokenizer (split on whitespace) is ``str.split``.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

TOP_K = 10


def _read(path: str) -> pa.Table:
    return pq.read_table(path)


def survivors(doc_ids: list[int], texts: list[str]) -> dict[int, str]:
    """Exact dedup: one row per distinct text, keeping the lowest id."""
    keep: dict[str, int] = {}
    for d, t in zip(doc_ids, texts):
        if t not in keep or d < keep[t]:
            keep[t] = d
    return {d: t for t, d in keep.items()}


class IndexOracle:
    """Postings, document frequencies and suggestions of a doc set."""

    def __init__(self, docs: dict[int, str]):
        self.docs = docs
        post: dict[str, list[int]] = defaultdict(list)
        for d in sorted(docs):
            for term in set(docs[d].split()):
                post[term].append(d)
        self.postings = dict(post)
        by_prefix: dict[str, list[str]] = defaultdict(list)
        for term in self.postings:
            by_prefix[term[:2]].append(term)
        self._by_prefix2 = by_prefix

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def suggest(self, prefix: str) -> list[tuple[str, int]]:
        """Top-k completions of ``prefix``: df desc, then term asc."""
        cands = [
            (t, self.df(t))
            for t in self._by_prefix2.get(prefix[:2], ())
            if t.startswith(prefix)
        ]
        cands.sort(key=lambda x: (-x[1], x[0]))
        return cands[:TOP_K]

    def search(self, term: str) -> tuple[list[int], int] | None:
        p = self.postings.get(term)
        return (p, len(p)) if p else None

    def prefixes2(self) -> list[str]:
        return list(self._by_prefix2)


def check_search_index(oracle: IndexOracle, post_dir: str, suggest_dir: str):
    """The inverted index and the suggest table of ``write_search_index``:
    every posting list and df, and the top-k terms of every 2-char
    prefix."""
    bad = []
    t = _read(post_dir).to_pydict()
    got = {term: (list(p), df) for term, p, df in zip(t["term"], t["posting"], t["df"])}
    want = {term: (p, len(p)) for term, p in oracle.postings.items()}
    if got != want:
        diff = sorted(set(got) ^ set(want)) or sorted(
            k for k in got if got[k] != want[k]
        )
        bad.append(f"postings: {len(diff)} terms differ, e.g. {diff[:3]}")
    s = _read(suggest_dir).to_pydict()
    per: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for p2, term, df in zip(s["prefix2"], s["term"], s["df"]):
        if term[:2] != p2:
            bad.append(f"suggest: term {term!r} filed under {p2!r}")
            break
        per[p2].append((term, df))
    for p2 in set(per) | set(oracle.prefixes2()):
        top = sorted(per.get(p2, ()), key=lambda x: (-x[1], x[0]))[:TOP_K]
        if top != oracle.suggest(p2):
            bad.append(f"suggest: top-{TOP_K} of prefix {p2!r} differs")
            break
    return bad


def check_build(oracle: IndexOracle, n_raw: int, out: str, names: dict):
    """Every output of one index build over the exact-dedup survivors."""
    bad = []
    corpus = _read(f"{out}/corpus").to_pydict()
    if sorted(corpus["doc_id"]) != sorted(oracle.docs):
        bad.append(
            f"prepare_corpus: {len(corpus['doc_id'])} survivors of {n_raw}, "
            f"expected {len(oracle.docs)}"
        )
    bad += check_search_index(
        oracle, f"{out}/{names['postings']}", f"{out}/{names['suggest']}"
    )

    n_docs = len(oracle.docs)
    vocab = _read(f"{out}/vocabulary").to_pydict()
    if dict(zip(vocab["token"], vocab["df"])) != {
        t: len(p) for t, p in oracle.postings.items()
    }:
        bad.append("build_search_index: vocabulary df differs")
    stats = _read(f"{out}/doc_stats").to_pydict()
    if dict(zip(stats["doc_id"], stats["doc_len"])) != {
        d: len(t.split()) for d, t in oracle.docs.items()
    }:
        bad.append("build_search_index: doc_stats differ")
    post = _read(f"{out}/postings").to_pydict()
    want_tf = {
        (d, term): c
        for d, text in oracle.docs.items()
        for term, c in Counter(text.split()).items()
    }
    got_tf = dict(zip(zip(post["doc_id"], post["token"]), post["tf"]))
    if got_tf != want_tf:
        bad.append("build_search_index: per-doc tf differs")
    else:
        for d, term, tf, w in zip(
            post["doc_id"], post["token"], post["tf"], post["tf_idf"]
        ):
            idf = math.log((n_docs + 1.0) / (oracle.df(term) + 1.0)) + 1.0
            if abs(w - tf * idf) > 1.5e-6:
                bad.append(f"build_search_index: tf_idf of ({d}, {term!r})")
                break

    sug = _read(f"{out}/suggestions").to_pydict()
    counts = Counter(t for text in oracle.docs.values() for t in text.split())
    want = {t: c for t, c in counts.items() if c >= 2 and len(t) >= 2}
    if dict(zip(sug["token"], sug["tf"])) != want:
        bad.append("build_suggestions: term counts differ")
    elif any(
        p1 != t[:1] or p2 != t[:2]
        for t, p1, p2 in zip(sug["token"], sug["prefix1"], sug["prefix2"])
    ):
        bad.append("build_suggestions: prefix columns differ")
    return bad


def check_suggest(oracle: IndexOracle, prefix: str, pdf) -> list[str]:
    got = [(t, int(df)) for t, df in zip(pdf["term"], pdf["df"])]
    return [] if got == oracle.suggest(prefix) else [f"suggest {prefix!r}"]


def check_search(oracle: IndexOracle, term: str, pdf) -> list[str]:
    want = oracle.search(term)
    if want is None:
        return [] if len(pdf) == 0 else [f"search {term!r}: expected no row"]
    if len(pdf) != 1:
        return [f"search {term!r}: {len(pdf)} rows"]
    row = pdf.iloc[0]
    got = ([int(x) for x in row["posting"]], int(row["df"]))
    return [] if got == want else [f"search {term!r}: posting differs"]


def hourly_rollup(paths: list[str]) -> dict[tuple[int, str], tuple[int, int]]:
    """Batch reference of the serving rollup:
    (hour start in epoch us, event_type) -> (events, value in cents)."""
    hour = 3_600_000_000
    out: dict[tuple[int, str], list[int]] = defaultdict(lambda: [0, 0])
    for p in paths:
        t = _read(p)
        ts = t["ts"].cast(pa.int64()).to_pylist()
        for us, et, v in zip(ts, t["event_type"].to_pylist(), t["value"].to_pylist()):
            acc = out[(us - us % hour, et)]
            acc[0] += 1
            acc[1] += round(v * 100)
    return {k: (a, b) for k, (a, b) in out.items()}


def file_keys(path: str) -> set[tuple[int, str]]:
    """The rollup keys one event file contributes to."""
    return set(hourly_rollup([path]))


def check_rollup(serving_dir: str, want: dict) -> set[tuple[int, str]]:
    """Keys whose served (count, sum) differ from the batch rollup."""
    t = _read(serving_dir)
    ws = t["window_start"].cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
    got = {
        (w, et): (n, s)
        for w, et, n, s in zip(
            ws,
            t["event_type"].to_pylist(),
            t["n_events"].to_pylist(),
            t["sum_value"].to_pylist(),
        )
    }
    wrong = set()
    for k in set(got) | set(want):
        if k not in got or k not in want:
            wrong.add(k)
            continue
        n, s = got[k]
        wn, wc = want[k]
        if n != wn or Decimal(s) != Decimal(wc) / 100:
            wrong.add(k)
    return wrong
