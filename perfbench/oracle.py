"""Reference answers the benchmark checks the engine's outputs against:
DuckDB over the same generated parquet, an exact BM25, and an exact
cosine top-k. Comparison rules follow the repository's DuckDB oracle:
column names compared as sets, rows order-insensitive, floats to 1e-6.
"""

from __future__ import annotations

import math
import os
import re
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np

FLOAT_ATOL = 1e-6
FLOAT_RTOL = 1e-9


def connect(src: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the generated source tables (one directory of
    parquet part files per table)."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(src, t + '.parquet')}/*.parquet')"
        )
    return con


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _sort_key(row):
    return tuple(str(round(v, 6) if isinstance(v, float) else v) for v in row)


def normalize(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_sort_key)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= FLOAT_ATOL + FLOAT_RTOL * abs(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got: tuple[list[str], list[tuple]],
             want: tuple[list[str], list[tuple]]) -> str | None:
    """None when two normalized results agree, else a description."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None


def duckdb_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return normalize(cols, cur.fetchall())


def spark_result(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    return normalize(columns, [tuple(r) for r in rows])


# -- BM25 -------------------------------------------------------------------------

_WS = re.compile(r"\s+")


def _tokens(text: str | None) -> list[str]:
    return [t for t in _WS.split(text.lower()) if t] if text else []


class BM25:
    """Exact BM25 over a document list, with the engine's tokenizer
    (lowercase, split on whitespace, empties dropped) and its top-k
    contract (score rounded to 6 places, ties by ascending doc id)."""

    def __init__(self, doc_ids, texts, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.tf: list[dict[str, int]] = []
        self.dl: list[int] = []
        self.df: dict[str, int] = {}
        self.ids = list(doc_ids)
        for t in texts:
            toks = _tokens(t)
            counts: dict[str, int] = {}
            for x in toks:
                counts[x] = counts.get(x, 0) + 1
            self.tf.append(counts)
            self.dl.append(len(toks))
            for x in counts:
                self.df[x] = self.df.get(x, 0) + 1
        self.n = len(self.ids)
        self.avgdl = sum(self.dl) / self.n

    def scores(self, query: str) -> dict[int, float]:
        terms = set(_tokens(query))
        out: dict[int, float] = {}
        for i, counts in enumerate(self.tf):
            s, hit = 0.0, False
            for term in terms:
                tf = counts.get(term)
                if not tf:
                    continue
                hit = True
                df = self.df[term]
                idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
                s += idf * tf * (self.k1 + 1) / (
                    tf + self.k1 * (1 - self.b + self.b * self.dl[i] / self.avgdl)
                )
            if hit:
                out[self.ids[i]] = round(s, 6)
        return out

    def check(self, query: str, got: list[tuple[int, int, float]], k: int) -> str | None:
        """``got``: (doc_id, rank, score) rows for one query."""
        ref = self.scores(query)
        want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        got = sorted(got, key=lambda r: r[1])
        if len(got) != len(want):
            return f"bm25 {query!r}: {len(got)} rows, want {len(want)}"
        for (doc, rank, score), (wdoc, wscore) in zip(got, want):
            if abs(score - wscore) > 1e-5:
                return f"bm25 {query!r} rank {rank}: score {score} != {wscore}"
            if doc != wdoc and abs(ref.get(doc, -1.0) - wscore) > 1e-5:
                return f"bm25 {query!r} rank {rank}: doc {doc} != {wdoc}"
        return None


# -- exact cosine top-k ------------------------------------------------------------


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Indices of each query's ``k`` nearest corpus rows by cosine."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q.astype(np.float64) @ c.astype(np.float64).T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]
