"""Seeded page corpus for the benchmark, with its oracle.

Rows have the input shape ``row_id, url, warc_ts, html, text, lang``.
Text is drawn from a Zipf vocabulary (10^4 words) with log-normal
document lengths. Every violation class of ``page_schema`` is planted on
a fixed number of rows, duplicate urls sit on one hot host, and exact
copies and few-word-edit near copies of clean pages are planted at fixed
shares, so every seed has the same counts at different rows.
The generator knows, per row, which rule ids must fire; ``Corpus.oracle``
carries the totals the workloads check against.

Generation is numpy + pyarrow on the driver (no Spark), and its Parquet
output is cached on disk per (seed, rows): the benchmark times the
engine, not the generator.
"""

from __future__ import annotations

import functools
import json
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ALLOWED_LANGS = ["en", "de", "fr", "es", "it", "pt", "nl", "pl", "ru", "ja"]
LANG_WEIGHTS = [0.40, 0.12, 0.10, 0.09, 0.07, 0.06, 0.05, 0.05, 0.04, 0.02]
BAD_LANGS = ["xx", "zz", "qq"]

VOCAB_SIZE = 10_000
ZIPF_S = 1.07
MIN_WORDS, MAX_WORDS = 20, 600      # clean docs: <= 600 * 9 - 1 chars
TEXT_MAX_CHARS = 6000               # oversized docs: >= 2100 * 3 - 1 chars
URL_MAX_CHARS = 300
OLDEST_TS = 1577836800              # 2020-01-01T00:00:00Z
HOT_HOST = "hot.example.com"

# violation class -> (share of rows, rule id it must fire)
VIOLATIONS = {
    "bad_url": (0.010, "url.url"),
    "null_url": (0.005, "url.required"),
    "long_url": (0.005, "url.lte"),
    "null_ts": (0.005, "warc_ts.required"),
    "old_ts": (0.010, "warc_ts.gte"),
    "empty_text": (0.005, "text.gte"),
    "huge_text": (0.003, "text.lte"),
    "bad_lang": (0.010, "lang.one_of"),
    "null_html": (0.005, "html.required"),
}
# classes on one column are exclusive; classes on different columns
# may land on the same row
_COLUMN_CLASSES = [["bad_url", "null_url", "long_url"],
                   ["null_ts", "old_ts"],
                   ["empty_text", "huge_text"],
                   ["bad_lang"], ["null_html"]]

DUP_URL_SHARE = 0.02        # rows re-using a hot-host url
HOT_URL_SHARE = 0.005       # rows re-using the hot host's front page
DUP_COPIES = 3              # rows per duplicated hot-host item url
EXACT_COPY_SHARE = 0.03
NEAR_COPY_SHARE = 0.03
NEAR_COPY_MIN_WORDS = 150   # 3 edits keep word-3-shingle Jaccard >= 0.88

TEXT_LEN_BUCKETS = (0.0, 6000.0, 30)  # lo, hi, buckets of length(text)


@functools.lru_cache(maxsize=1)
def vocabulary() -> list[str]:
    """Fixed 10^4-word lowercase vocabulary, 2..8 letters per word."""
    rng = np.random.default_rng(12345)
    words: set[str] = set()
    out: list[str] = []
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(out) < VOCAB_SIZE:
        n = int(rng.integers(2, 9))
        w = "".join(rng.choice(letters, n))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


@functools.lru_cache(maxsize=1)
def _zipf_table() -> np.ndarray:
    """Inverse CDF of the Zipf law sampled at 2^20 quantiles: one gather
    per word instead of a binary search."""
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]
    q = (np.arange(1 << 20) + 0.5) / (1 << 20)
    return np.searchsorted(cdf, q).astype(np.int32)


def _zipf_ids(rng, n: int) -> np.ndarray:
    return _zipf_table()[rng.integers(0, 1 << 20, n)]


def _doc_lengths(rng, n: int, median: float = 110.0, sigma: float = 0.7
                 ) -> np.ndarray:
    raw = rng.lognormal(np.log(median), sigma, n)
    return np.clip(raw.astype(np.int64), MIN_WORDS, MAX_WORDS)


def text_length_histogram(lengths: np.ndarray) -> list[tuple[int, int]]:
    """(bucket, count) in ``tablechecks.column_stats`` histogram layout:
    bucket 0 underflow, 1..B in range, B+1 overflow."""
    lo, hi, buckets = TEXT_LEN_BUCKETS
    width = (hi - lo) / buckets
    b = np.where(lengths < lo, 0,
                 np.where(lengths >= hi, buckets + 1,
                          np.floor((lengths - lo) / width).astype(np.int64) + 1))
    counts = np.bincount(b, minlength=buckets + 2)
    return [(i, int(c)) for i, c in enumerate(counts)]


def drifted_text_histogram(seed: int, rows: int) -> list[tuple[int, int]]:
    """Text-length histogram of a corpus crawled with a different
    length mix (longer pages) — the drifted baseline snapshot."""
    rng = np.random.default_rng([seed, 7])
    rows = min(rows, 20_000)
    vocab_len = np.array([len(w) for w in vocabulary()]) + 1
    n = _doc_lengths(rng, rows, median=260.0, sigma=0.5)
    ids = _zipf_ids(rng, int(n.sum()))
    starts = np.concatenate([[0], np.cumsum(n)[:-1]])
    chars = np.add.reduceat(vocab_len[ids], starts) - 1
    return text_length_histogram(chars)


@dataclass
class Corpus:
    path: str            # Parquet directory
    rows: int
    oracle: dict         # expected outputs, see generate()


def _pick(rng, pool: np.ndarray, share: float, n: int) -> np.ndarray:
    k = min(len(pool), int(round(share * n)))
    return np.sort(rng.choice(pool, k, replace=False))


def generate(seed: int, rows: int) -> tuple[pa.Table, dict]:
    """Build the page table and its oracle for ``seed``."""
    rng = np.random.default_rng([seed, rows])
    vocab = vocabulary()
    row_id = np.arange(rows, dtype=np.int64)

    # -- violation classes: exact counts, one permutation per column group
    cls = {}
    for group in _COLUMN_CLASSES:
        order = rng.permutation(rows)
        lo = 0
        for name in group:
            k = int(round(VIOLATIONS[name][0] * rows))
            cls[name] = np.zeros(rows, dtype=bool)
            cls[name][order[lo:lo + k]] = True
            lo += k
    dirty = np.zeros(rows, dtype=bool)
    for m in cls.values():
        dirty |= m

    # -- copies: clean rows copy clean sources ----------------------------
    lengths = _doc_lengths(rng, rows)
    clean = np.flatnonzero(~dirty)
    exact_rows = _pick(rng, clean, EXACT_COPY_SHARE, rows)
    rest = np.setdiff1d(clean, exact_rows)
    near_rows = _pick(rng, rest, NEAR_COPY_SHARE, rows)
    sources = np.setdiff1d(rest, near_rows)
    exact_src = rng.choice(sources, len(exact_rows))
    long_sources = sources[lengths[sources] >= NEAR_COPY_MIN_WORDS]
    near_src = rng.choice(long_sources, len(near_rows))
    lengths[exact_rows] = lengths[exact_src]
    lengths[near_rows] = lengths[near_src]
    lengths[cls["empty_text"]] = 0
    lengths[cls["huge_text"]] = rng.integers(2100, 2600,
                                             int(cls["huge_text"].sum()))

    offsets = np.concatenate([[0], np.cumsum(lengths)])
    ids = _zipf_ids(rng, int(offsets[-1]))
    for dst, src in zip(exact_rows, exact_src):
        ids[offsets[dst]:offsets[dst + 1]] = ids[offsets[src]:offsets[src + 1]]
    for dst, src in zip(near_rows, near_src):
        n = lengths[dst]
        seg = ids[offsets[src]:offsets[src] + n].copy()
        pos = rng.choice(n, int(rng.integers(1, 4)), replace=False)
        seg[pos] = (seg[pos] + rng.integers(1, VOCAB_SIZE, len(pos))) \
            % VOCAB_SIZE
        ids[offsets[dst]:offsets[dst + 1]] = seg
    words = pa.array(vocab, pa.string()).take(pa.array(ids))
    text = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), words), " ")

    # -- urls: zipf hosts, a hot host carrying every duplicate ------------
    host_rank = np.minimum(_zipf_ids(rng, rows) % 2000, 1999)
    url = np.array([f"https://h{h}.example.org/p/{i:x}"
                    for h, i in zip(host_rank, rng.permutation(rows))],
                   dtype=object)
    candidates = np.flatnonzero(~(cls["bad_url"] | cls["null_url"]
                                  | cls["long_url"]))
    dup_rows = rng.permutation(
        _pick(rng, candidates, DUP_URL_SHARE + HOT_URL_SHARE, rows))
    n_front = int(round(HOT_URL_SHARE * rows))
    url[dup_rows[:n_front]] = f"https://{HOT_HOST}/"
    # the other duplicates come in threes, one hot-host item url each
    url[dup_rows[n_front:]] = [f"https://{HOT_HOST}/item/{k // DUP_COPIES}"
                               for k in range(len(dup_rows) - n_front)]
    for i in np.flatnonzero(cls["bad_url"]):
        url[i] = f"{HOT_HOST}/p/{i:x}"
    for i in np.flatnonzero(cls["long_url"]):
        url[i] = f"https://{HOT_HOST}/q/{i:x}?" + "a" * URL_MAX_CHARS
    url[cls["null_url"]] = None

    # -- timestamps, langs, html ------------------------------------------
    ts = OLDEST_TS + rng.integers(0, 6 * 365 * 86400, rows)
    ts[cls["old_ts"]] = OLDEST_TS - rng.integers(1, 5 * 365 * 86400,
                                                 int(cls["old_ts"].sum()))
    warc_ts = pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC"),
                       mask=cls["null_ts"])
    lang_idx = rng.choice(len(ALLOWED_LANGS), rows, p=LANG_WEIGHTS)
    lang = np.array(ALLOWED_LANGS, dtype=object)[lang_idx]
    lang[cls["bad_lang"]] = rng.choice(BAD_LANGS, int(cls["bad_lang"].sum()))
    html = pc.binary_join_element_wise(
        "<html><head><title>page</title></head><body><p>", text,
        "</p></body></html>", "").cast(pa.binary())
    html = pc.if_else(pa.array(cls["null_html"]),
                      pa.nulls(rows, pa.binary()), html)

    table = pa.table({
        "row_id": row_id, "url": pa.array(url, pa.string()),
        "warc_ts": warc_ts, "html": html, "text": text,
        "lang": pa.array(lang, pa.string())})

    # -- oracle -----------------------------------------------------------
    rule_counts = {rule: int(cls[name].sum())
                   for name, (_, rule) in VIOLATIONS.items()}
    url_counts = Counter(url.tolist())
    text_chars = pc.utf8_length(text).to_numpy()
    oracle = {
        "rows": rows,
        "rule_counts": rule_counts,
        "n_invalid": int(dirty.sum()),
        "n_valid": int(rows - dirty.sum()),
        "n_violations": int(sum(rule_counts.values())),
        "duplicate_keys": sum(1 for c in url_counts.values() if c > 1),
        "referential_rows": int(cls["bad_lang"].sum()),
        "nulls": {"row_id": 0, "url": int(cls["null_url"].sum()),
                  "warc_ts": int(cls["null_ts"].sum()),
                  "html": int(cls["null_html"].sum()), "text": 0,
                  "lang": 0},
        "exact_copies": int(len(exact_rows)),
        "near_copies": int(len(near_rows)),
        "text_len_hist": text_length_histogram(text_chars),
        "drifted_text_len_hist": drifted_text_histogram(seed, rows),
    }
    return table, oracle


def load(seed: int, rows: int, work_dir: str) -> Corpus:
    """The corpus for (seed, rows), generated on first use."""
    path = os.path.join(work_dir, "corpus", f"s{seed}_n{rows}")
    oracle_path = os.path.join(path, "_oracle.json")
    if not os.path.exists(oracle_path):
        table, oracle = generate(seed, rows)
        tmp = path + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        # several files so the scan splits across cores like a crawl dump
        per_file = -(-rows // 8)
        for i in range(0, rows, per_file):
            pq.write_table(table.slice(i, per_file),
                           os.path.join(tmp, f"part-{i // per_file:03d}.parquet"),
                           compression="snappy")
        with open(os.path.join(tmp, "_oracle.json"), "w") as f:
            json.dump(oracle, f)
        os.replace(tmp, path)
    with open(oracle_path) as f:
        oracle = json.load(f)
    return Corpus(path=path, rows=rows, oracle=oracle)
