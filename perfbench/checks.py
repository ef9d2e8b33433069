"""Reference answers the benchmark checks the program's outputs against.

These restate the program's documented semantics independently, in
numpy / plain Python / DuckDB, so a wrong answer is counted as a
failed sample rather than timed as a fast one.
"""

from __future__ import annotations

import math
import re
from datetime import date, datetime
from decimal import Decimal
from zlib import crc32

import numpy as np

EMBED_DIM = 64
SCORE_TOL = 1e-6


def embed_text(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """The documented stand-in embedder: crc32 token feature-hash of the
    lowercased whitespace tokens, L2-normalised, float32."""
    v = np.zeros(dim, dtype=np.float32)
    for tok in (text or "").lower().split():
        v[crc32(tok.encode()) % dim] += 1.0
    n = float(np.linalg.norm(v))
    return v / n if n > 0 else v


def cosine_scores(emb: np.ndarray, q) -> np.ndarray:
    """Cosine of every row of ``emb`` (float32) against ``q`` in float64
    with left-to-right sums (np.cumsum is sequential), the order the
    program's SQL fold uses."""
    e = emb.astype(np.float64)
    qd = np.asarray([float(x) for x in q], dtype=np.float64)
    acc = 0.0
    for x in qd:
        acc = acc + x * x
    nq = math.sqrt(acc)
    dot = np.cumsum(e * qd, axis=1)[:, -1]
    na = np.sqrt(np.cumsum(e * e, axis=1)[:, -1])
    with np.errstate(divide="ignore", invalid="ignore"):
        out = dot / (na * nq)
    out[(na == 0.0) | (nq == 0.0)] = 0.0
    return out


def topk(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Row positions of the k best (score desc, id asc)."""
    order = np.lexsort((ids, -scores))
    return order[:k]


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
    """Same ids in the same order, scores within SCORE_TOL."""
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL for g, w in zip(got, want)
    )


_TOKEN_RE = re.compile(r"[^\W_]+")


def bm25_topk(texts: list[str], ids: np.ndarray, terms: list[str], k: int,
              k1: float = 1.2, b: float = 0.75) -> list[tuple[int, float]]:
    """Okapi BM25 with the Lucene idf over ASCII word tokens; positive
    scores only, (score desc, id asc)."""
    qterms = list(dict.fromkeys(t for term in terms for t in _TOKEN_RE.findall(term.lower())))
    toks = [_TOKEN_RE.findall(t.lower()) for t in texts]
    dl = np.array([len(t) for t in toks], dtype=np.float64)
    n = float(len(texts))
    avgdl = float(dl.sum()) / len(texts)
    score = np.zeros(len(texts))
    for q in qterms:
        tf = np.array([t.count(q) for t in toks], dtype=np.float64)
        df = float((tf > 0).sum())
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        score = score + idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    keep = np.nonzero(score > 0)[0]
    order = keep[np.lexsort((ids[keep], -score[keep]))][:k]
    return [(int(ids[i]), float(score[i])) for i in order]


def _padded(text: str) -> str:
    return " " + re.sub(r"\s+", " ", text).strip().lower() + " "


def rrf_topk(emb: np.ndarray, texts: list[str], ids: np.ndarray, q, terms: list[str],
             k: int, rrf_k: int = 60) -> list[tuple[str, int, int, float]]:
    """Reciprocal-rank fusion with corpus-wide ranks: dense = cosine,
    lex = occurrences of each ' term ' in the padded lowercased text;
    ranks break ties by id ascending."""
    dense = cosine_scores(emb, q)
    lex = np.array(
        [float(sum(p.count(f" {t} ") for t in terms)) for p in map(_padded, texts)]
    )
    rank_d = np.empty(len(ids), dtype=np.int64)
    rank_d[np.lexsort((ids, -dense))] = np.arange(1, len(ids) + 1)
    rank_l = np.empty(len(ids), dtype=np.int64)
    rank_l[np.lexsort((ids, -lex))] = np.arange(1, len(ids) + 1)
    rrf = 1.0 / (rrf_k + rank_d) + 1.0 / (rrf_k + rank_l)
    order = np.lexsort((ids, -rrf))[:k]
    return [(str(ids[i]), int(rank_d[i]), int(rank_l[i]), float(rrf[i])) for i in order]


def check_memories(table, n_input: int) -> list[str]:
    """Invariants of a written memories store (pyarrow table)."""
    errs = []
    if table.num_rows != n_input:
        errs.append(f"rows {table.num_rows} != input {n_input}")
    df = table.select(
        ["memory_id", "session_id", "sequence_order", "preceding_memory_id"]
    ).to_pandas()
    if df["memory_id"].duplicated().any():
        errs.append("duplicate memory_id")
    df = df.sort_values(["session_id", "sequence_order"], kind="stable")
    want_seq = df.groupby("session_id").cumcount() + 1
    if not (df["sequence_order"].to_numpy() == want_seq.to_numpy()).all():
        errs.append("sequence_order is not 1..n per session")
    prev = df.groupby("session_id")["memory_id"].shift(1)
    first = df["sequence_order"] == 1
    if df.loc[first, "preceding_memory_id"].notna().any():
        errs.append("first memory of a session has a preceding id")
    if not (df.loc[~first, "preceding_memory_id"] == prev[~first]).all():
        errs.append("preceding_memory_id chain disagrees with sequence_order")
    emb = table.column("embedding").combine_chunks()
    lens = np.diff(emb.offsets.to_numpy())
    if not (lens == EMBED_DIM).all():
        errs.append("embedding is not 64-dimensional")
    else:
        v = emb.values.to_numpy(zero_copy_only=False).reshape(-1, EMBED_DIM).astype(np.float64)
        if not np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5):
            errs.append("embedding is not unit norm")
    return errs


def _norm_cell(v):
    if isinstance(v, Decimal):
        return ("num", float(v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, (int, float)):
        return ("num", float(v))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def rows_match(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Order-insensitive exact equality of two result sets (columns
    matched by name; numbers compared by value)."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False

    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)

    return norm(cols_a, rows_a) == norm(cols_b, rows_b)


def duckdb_rows(docs_dir: str, sql: str):
    """Run a catalog oracle in DuckDB over the generated documents."""
    import duckdb

    con = duckdb.connect()
    try:
        con.sql("SET threads TO 2")
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')"
        )
        rel = con.sql(sql)
        cols = rel.columns
        return cols, [tuple(d[c] for c in cols) for d in rel.fetch_arrow_table().to_pylist()]
    finally:
        con.close()


def planted_pair_recall(pairs: set[tuple[int, int]], groups: list[list[int]]) -> float:
    """Share of the pairs inside planted exact-duplicate groups that the
    output contains."""
    want = [(a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1:]]
    return sum(p in pairs for p in want) / max(1, len(want))
