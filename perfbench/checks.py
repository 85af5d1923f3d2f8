"""Reference implementations the benchmark compares the engine against:
DuckDB running the repo's BM25 oracle SQL, numpy brute-force cosine top-k,
and Python reciprocal-rank fusion with the engine's DECIMAL(18,6)
rounding."""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np

from warp_pipes_spark.search.bm25 import bm25_oracle_sql


def bm25_oracle(corpus_paths: list, query_path: str, k: int) -> dict:
    """query_id -> [(idx, score)] ranked, from DuckDB over the same files."""
    con = duckdb.connect()
    try:
        # Spark writes a Parquet dataset as a directory of part files
        files = ", ".join(
            f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'" for p in corpus_paths)
        con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet([{files}])")
        sql = bm25_oracle_sql(
            "corpus", f"SELECT query_id, text AS qtext FROM '{query_path}'", k=k
        )
        out: dict = {}
        for qid, _rank, idx, score in con.execute(sql).fetchall():
            out.setdefault(qid, []).append((idx, score))
        return out
    finally:
        con.close()


def ranked(rows) -> dict:
    """Spark result rows -> query_id -> [(idx, score)] in rank order."""
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["idx"], float(r["score"])))
    return out


def same_bm25(engine: dict, oracle: dict, tol: float = 1e-6) -> bool:
    if set(engine) != set(oracle):
        return False
    for q, exp in oracle.items():
        got = engine[q]
        if [i for i, _ in got] != [i for i, _ in exp]:
            return False
        if any(abs(a - b) > tol for (_, a), (_, b) in zip(got, exp)):
            return False
    return True


def dense_matches(engine: dict, corpus_ids, corpus_vecs: np.ndarray, queries: dict,
                  k: int, tol: float = 2e-6) -> bool:
    """Engine top-k equals numpy brute force up to the engine's
    DECIMAL(18,6) score rounding: every returned score is the true cosine,
    the list holds the true top-k scores, and no left-out document scores
    above the k-th."""
    ids = np.asarray(corpus_ids)
    for qid, qv in queries.items():
        scores = corpus_vecs @ np.asarray(qv)
        order = np.argsort(-scores, kind="stable")[:k]
        got = engine.get(qid, [])
        if len(got) != min(k, len(ids)):
            return False
        pos = {int(d): i for i, d in enumerate(ids)}
        for (idx, s) in got:
            if abs(scores[pos[int(idx)]] - s) > tol:
                return False
        expect = np.sort(scores[order])[::-1]
        if np.any(np.abs(np.array([s for _, s in got]) - expect) > tol):
            return False
        kth = expect[-1]
        chosen = {int(i) for i, _ in got}
        if any(scores[j] > kth + tol and int(ids[j]) not in chosen for j in range(len(ids))):
            return False
    return True


def _rr(rank: int, c: float) -> Decimal:
    return Decimal(repr(1.0 / (c + rank))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def rrf(lists: list, c: float = 60.0, k: int = 10) -> dict:
    """query_id -> [idx] fused ranking (score desc, idx asc)."""
    fused: dict = {}
    for per_query in lists:
        for qid, items in per_query.items():
            acc = fused.setdefault(qid, {})
            for rank, (idx, _score) in enumerate(items, start=1):
                acc[idx] = acc.get(idx, Decimal(0)) + _rr(rank, c)
    return {
        qid: [i for i, _ in sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
        for qid, acc in fused.items()
    }
