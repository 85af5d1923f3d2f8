"""Index orchestrator: corpus + engine chain.

Capability parity with the reference's ``Index``
(``warp_pipes/search/index.py:38-248``): own a corpus, build a chain of
engines, run queries through the chain where each engine sees the previous
engine's results (re-rankers consume them; retrievers optionally merge with
them by score-sum, the reference's ``merge_previous_results``).

Here "build" materializes DataFrames (and can persist them under the pipe
fingerprint via the cache manager); "query" is a lazy transform chain over
a driver-local copy of the (bounded) query batch."""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp_pipes_spark.core.fingerprint import combine_fingerprints
from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.ml.similarity import local_batch
from warp_pipes_spark.search.result import merge_results, topk_results
from warp_pipes_spark.search.topk import TopkSearch


class Index(Pipe):
    """``engines``: sequence of Pipes producing long-form results
    (query_id, idx, score[, rank]) from a query DataFrame. Re-rank engines
    (``TopkSearch``) are fed the previous results instead of the queries."""

    def __init__(
        self,
        corpus: DataFrame,
        engines: Sequence[Pipe],
        k: int = 10,
        merge_previous_results: bool = False,
        merge_strategy: str = "sum",
        rrf_c: float = 60.0,
        rrf_depth: int = 100,
        **kwargs,
    ):
        if merge_strategy not in ("sum", "rrf"):
            raise ValueError(f"merge_strategy must be 'sum' or 'rrf', got {merge_strategy!r}")
        super().__init__(**kwargs)
        self.corpus = corpus
        self.engines = list(engines)
        self.k = k
        self.merge_previous_results = merge_previous_results
        # 'sum' = the reference's merge_previous_results score addition;
        # 'rrf' = reciprocal-rank fusion (scale-free — correct when the
        # chained engines score on incomparable scales, e.g. BM25 + cosine);
        # each side contributes its top-rrf_depth ranks
        self.merge_strategy = merge_strategy
        self.rrf_c = rrf_c
        self.rrf_depth = rrf_depth

    _no_fingerprint = ("corpus",)

    @property
    def build_fingerprint(self) -> str:
        return combine_fingerprints(*[e.fingerprint for e in self.engines])

    def _transform(self, queries: DataFrame, **kwargs) -> DataFrame:
        # every engine plans over ONE driver-local copy of a bounded batch
        # (one bounded fetch job), so none of them probes or re-reads it
        queries = local_batch(queries)
        prev: Optional[DataFrame] = None
        # prev carries its own rank, valid to rrf_depth: RRF fuses it as
        # is instead of re-ranking it through another window
        prev_ranked = False
        # k of the trailing TopkSearch (if any): when the chain already ends
        # in a re-rank to <= self.k, the final window would re-sort an
        # already-ranked set — skip it (one shuffle+sort saved per query
        # batch; the driver-visible result is identical)
        ranked_k: Optional[int] = None
        last = len(self.engines) - 1
        for i, engine in enumerate(self.engines):
            if isinstance(engine, TopkSearch):
                if prev is None:
                    raise ValueError("re-ranker engine requires previous results")
                prev = engine.transform(prev)
                prev_ranked = False
                ranked_k = engine.k
                continue
            ranked_k = None
            out = engine.transform(queries)
            if "idx" not in out.columns and "neighbor_id" in out.columns:
                # dense engines emit the reference's neighbor_id naming;
                # normalize to the (query_id, idx, score) result convention
                out = out.withColumnRenamed("neighbor_id", "idx")
            # an engine's own rank orders (score desc, idx asc) — the
            # order topk_results would assign — over at most its k rows
            ek = getattr(engine, "k", None)
            ranked = (
                "rank" in out.columns
                and isinstance(ek, int)
                and ek <= self.rrf_depth
            )
            if prev is not None and self.merge_previous_results and getattr(
                engine, "merge_previous_results", True
            ):
                cur = out.select("query_id", "idx", "score")
                if self.merge_strategy == "rrf":
                    from warp_pipes_spark.search.result import rrf_fuse

                    # the chain's last fusion ranks straight to the
                    # output depth: its window is the final top-k
                    final = i == last
                    fused = rrf_fuse(
                        prev if prev_ranked else topk_results(prev, self.rrf_depth),
                        out if ranked else topk_results(cur, self.rrf_depth),
                        c=self.rrf_c,
                        k=min(self.k, self.rrf_depth) if final else self.rrf_depth,
                    ).select("query_id", "rank", "idx", F.col("rrf").alias("score"))
                    if final:
                        return fused
                    prev, prev_ranked = fused, True
                else:
                    prev, prev_ranked = merge_results(prev, cur), False
            else:
                prev = out.select(
                    "query_id", *(["rank"] if ranked else []), "idx", "score"
                )
                prev_ranked = ranked
        if ranked_k is not None and ranked_k <= self.k:
            return prev
        return topk_results(prev, self.k)
