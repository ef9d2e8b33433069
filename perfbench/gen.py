"""Seeded input generators. Every table the benchmark feeds the program
is made here from a ``numpy.random.Generator``: the same seed gives
byte-identical inputs, and the program sees only the files written.

* ``documents`` — the shape of the catalog's ``documents`` table
  (doc_id, text, lang, source, n_chars): base documents over a small
  shared vocabulary, replicated with a per-copy token suffix (the
  ``tools/scale_probe.replicate`` scheme, so copies share no tokens),
  plus planted near-duplicate clusters on fresh ids.
* ``tool_calls`` — a raw tool-call log (tool, session_id, ts,
  arguments MAP<STRING,STRING>) with skewed session lengths and some
  empty ``Content`` values, the input of ``ingest.ingest_batch``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20

#: planted cluster sizes: below and above HOT_CAP (32), so both the
#: pairwise and the representative-routed emission paths run
EXACT_CLUSTERS = (2, 3, 5, 8, 13, 24, 40, 48)
#: (size, share of tokens each member rewrites): at 0.04 members stay
#: well above Jaccard 0.5 on 3-gram shingles, at 0.10 they straddle it,
#: so LSH emits candidates that verification rejects
NEAR_CLUSTERS = ((4, 0.04), (6, 0.10), (10, 0.04), (20, 0.10), (36, 0.04), (44, 0.10))

TOOLS = (
    "NoteTaker", "WebSearch", "CodeRunner", "FileReader",
    "Planner", "Critic", "Summarizer", "Recall",
)
TOOL_P = (0.30, 0.20, 0.15, 0.12, 0.09, 0.07, 0.04, 0.03)
MOODS = ("calm", "curious", "focused", "tired")
EMPTY_CONTENT_FRAC = 0.06
NO_TITLE_FRAC = 0.10
T0 = dt.datetime(2024, 1, 1)


def _words(rng: np.random.Generator, lo: int, hi: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(lo, hi + 1))]


def documents(
    rng: np.random.Generator, n_base: int, copies: int
) -> tuple[pa.Table, list[list[int]]]:
    """Corpus table plus the doc-id groups of each planted EXACT
    duplicate cluster (the recall truth for rows-only dedup jobs)."""
    base = [_words(rng, 10, 100) for _ in range(n_base)]
    langs = rng.choice(len(LANGS), n_base, p=LANG_P)
    texts: list[str] = []
    lang_col: list[str] = []
    for c in range(copies):
        sfx = f"x{c}"
        for toks, li in zip(base, langs):
            texts.append(" ".join(t + sfx for t in toks))
            lang_col.append(LANGS[li])
    exact_groups: list[list[int]] = []
    for size in EXACT_CLUSTERS:
        text = " ".join(_words(rng, 30, 90))
        exact_groups.append(list(range(len(texts), len(texts) + size)))
        texts.extend([text] * size)
        lang_col.extend([LANGS[rng.choice(len(LANGS), p=LANG_P)]] * size)
    for size, edit in NEAR_CLUSTERS:
        toks = _words(rng, 40, 90)
        lang = LANGS[rng.choice(len(LANGS), p=LANG_P)]
        for _ in range(size):
            t = list(toks)
            for j in rng.choice(len(t), max(1, int(len(t) * edit)), replace=False):
                t[j] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(t))
            lang_col.append(lang)
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang_col, pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, exact_groups


def session_lengths(rng: np.random.Generator, n_rows: int, mean_len: float) -> list[int]:
    """Skewed (lognormal) session lengths summing to exactly n_rows."""
    lens: list[int] = []
    left = n_rows
    while left > 0:
        k = int(min(left, max(1, round(rng.lognormal(np.log(mean_len) - 0.6, 1.1)))))
        lens.append(k)
        left -= k
    return lens


def tool_calls(rng: np.random.Generator, n_rows: int, mean_session: float = 40.0) -> pa.Table:
    """Raw tool-call log; ts strictly increases within a session so the
    session window's order is total."""
    lens = session_lengths(rng, n_rows, mean_session)
    tools = rng.choice(len(TOOLS), n_rows, p=TOOL_P)
    empty = rng.random(n_rows) < EMPTY_CONTENT_FRAC
    no_title = rng.random(n_rows) < NO_TITLE_FRAC
    moods = rng.integers(0, len(MOODS), n_rows)
    sess_col, ts_col, arg_col = [], [], []
    i = 0
    for s, k in enumerate(lens):
        start = T0 + dt.timedelta(minutes=int(rng.integers(0, 60 * 24 * 90)))
        steps = np.cumsum(rng.integers(1, 600, k))
        for j in range(k):
            sess_col.append(f"sess-{s:06d}")
            ts_col.append(start + dt.timedelta(seconds=int(steps[j])))
            args = [
                ("Content", "" if empty[i] else " ".join(_words(rng, 8, 40))),
                ("Context", f"ctx-{s % 97}"),
                ("Mood", MOODS[moods[i]]),
                ("Step", str(j)),
            ]
            if not no_title[i]:
                args.insert(0, ("Title", " ".join(_words(rng, 2, 5))))
            arg_col.append(args)
            i += 1
    return pa.table(
        {
            "tool": pa.array([TOOLS[t] for t in tools], pa.string()),
            "session_id": pa.array(sess_col, pa.string()),
            "ts": pa.array(ts_col, pa.timestamp("us")),
            "arguments": pa.array(arg_col, pa.map_(pa.string(), pa.string())),
        }
    )


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)
