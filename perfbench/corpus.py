"""Seeded web-page inputs for the benchmark, in the engine's page schema
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

The generator lives here rather than in ``quickwit_spark.sources.corpus``
so that an edit to the program's own corpus code cannot change a
workload. The same ``(seed, n, time_ordered)`` always yields the same rows.

Two timestamp layouts:

- ``time_ordered=False``: every page gets a uniform random time in a
  30-day window, so any hash-assigned split spans the whole window
  (nothing can be pruned by time);
- ``time_ordered=True``: time grows with the page ordinal, so a batch of
  consecutive ordinals covers a narrow window, which is the shape a crawl
  or log stream hands to ``add_documents``.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = dt.datetime(2021, 3, 1, tzinfo=dt.timezone.utc)
WINDOW_SECONDS = 30 * 24 * 3600
VOCAB_SIZE = 8000
MIN_WORDS, MAX_WORDS = 20, 200
PARA_WORDS = 30
MARKER_EVERY = 97

# The query shapes use these words, so they must sit at the hot end of
# the Zipf ranking or the queries would match nothing.
_HOT_WORDS = (
    "the of and to a in is it you that he was for on are with as his they "
    "be at one have this from or had by hot word but what some we can out "
    "other were all there when up use your how said an each she"
).split()
_SYLLABLES = (
    "ka ke ki ko ku la le li lo lu ma me mi mo mu na ne ni no nu "
    "pa pe pi po pu ra re ri ro ru sa se si so su ta te ti to tu"
).split()
_LANGS = np.array(["en", "de", "fr", "und"])
_LANG_CDF = np.array([0.8, 0.9, 0.95, 1.0])

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _vocab() -> np.ndarray:
    words = list(_HOT_WORDS)
    i = 0
    while len(words) < VOCAB_SIZE:
        n, w = i, ""
        for _ in range(3):
            w += _SYLLABLES[n % len(_SYLLABLES)]
            n //= len(_SYLLABLES)
        words.append(w + "x")
        i += 1
    return np.array(words)


_VOCAB = _vocab()


def _html(ordinal: int, words: list[str]) -> bytes:
    paras = (
        " ".join(words[i : i + PARA_WORDS]) for i in range(0, len(words), PARA_WORDS)
    )
    body = "".join(f"<p>{p}</p>" for p in paras)
    return (
        f"<html><head><title>page {ordinal}</title></head>"
        f"<body>{body}</body></html>"
    ).encode()


def pages(seed: int, n: int, time_ordered: bool) -> pa.Table:
    """``n`` pages generated from ``seed``."""
    rng = np.random.default_rng([seed, n, int(time_ordered)])
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    # Zipf(~1) ranks by inverse CDF of the log distribution
    ranks = np.minimum(
        np.exp(rng.random(int(lengths.sum())) * np.log(VOCAB_SIZE)).astype(np.int64),
        VOCAB_SIZE,
    ) - 1
    words = _VOCAB[ranks]
    ends = np.cumsum(lengths)
    texts, htmls = [], []
    for i in range(n):
        toks = words[ends[i] - lengths[i] : ends[i]].tolist()
        if i % MARKER_EVERY == 0:
            toks.append(f"qw_marker_{i // MARKER_EVERY}")
        texts.append(" ".join(toks))
        htmls.append(_html(i, toks))
    if time_ordered:
        offs = np.arange(n) * (WINDOW_SECONDS // n) + rng.integers(0, 60, n)
    else:
        offs = rng.integers(0, WINDOW_SECONDS, n)
    base_us = int(BASE_TS.timestamp()) * 1_000_000
    ts = base_us + offs.astype(np.int64) * 1_000_000
    hosts = rng.integers(0, 500, n)
    urls = [f"https://site{h}.example/{seed}/{i}" for i, h in enumerate(hosts)]
    langs = _LANGS[np.searchsorted(_LANG_CDF, rng.random(n), side="right")]
    return pa.Table.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
            pa.array(htmls, pa.binary()),
            pa.array(texts, pa.string()),
            pa.array(langs.tolist(), pa.string()),
        ],
        schema=SCHEMA,
    )


def stage(table: pa.Table, path: str) -> str:
    """Write ``table`` as one Parquet file and read it back once, so its
    pages sit in the page cache before anything is timed."""
    pq.write_table(table, path)
    with open(path, "rb") as fh:
        while fh.read(1 << 22):
            pass
    return path
