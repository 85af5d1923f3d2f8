"""The three workloads. Each has ``generate`` (inputs), ``build``
(artifacts built from them), ``warm`` (JIT and Python-worker warm-up),
``op`` (one timed unit of work, closed loop), ``check`` (output checks
after the timed loop) and ``probe`` (traced runs only: each layer's output
materialized on its own, for per-layer execution time).

A workload talks to the engine only through public classes and functions
of ``warp_pipes_spark``; spans around those calls come from ``Tracer.wrap``.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks, gen
from warp_pipes_spark.pipes.cache import CacheManager
from warp_pipes_spark.pipes.passages import GeneratePassages
from warp_pipes_spark.pipes.pipelines import Sequential
from warp_pipes_spark.pipes.predict import Predict
from warp_pipes_spark.pipes.tokenizer import RegexTokenizer
from warp_pipes_spark.search.bm25 import Bm25Search
from warp_pipes_spark.search.cached import cached_results
from warp_pipes_spark.search.dense import DenseSearch
from warp_pipes_spark.search.index import Index
from warp_pipes_spark.search.result import rrf_fuse, topk_results
from warp_pipes_spark.text.analysis import GopherQualityFilter, LangId
from warp_pipes_spark.text.dedup import (
    DedupClusters,
    ExactDedup,
    IncrementalDedup,
    IncrementalMinHashDedup,
    MinHashDedup,
)
from warp_pipes_spark.text.packing import PackSequences

K = 10
MODEL_FP = "perfbench-hashed-bow-v1"

# layer name -> (class, public method) pairs the traced run wraps
LAYERS = {
    "text.analysis": [(GopherQualityFilter, "transform"), (LangId, "transform")],
    "text.dedup": [(c, "transform") for c in
                   (ExactDedup, MinHashDedup, DedupClusters, IncrementalDedup,
                    IncrementalMinHashDedup)],
    "pipes.tokenizer": [(RegexTokenizer, "transform")],
    "pipes.passages": [(GeneratePassages, "transform")],
    "text.packing": [(PackSequences, "transform")],
    "pipes.predict": [(Predict, "transform")],
    "search.bm25": [(Bm25Search, "transform")],
    "search.bm25.append": [(Bm25Search, "append")],
    "search.dense": [(DenseSearch, "transform")],
    "search.index": [(Index, "transform")],
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def plan(df) -> None:
    """Catalyst planning of ``df`` on its own (the physical plan is cached
    on the query execution, so the following action does not re-plan)."""
    df._jdf.queryExecution().executedPlan()


def predictor(cache_dir: str) -> Predict:
    return Predict(gen.embed, CacheManager(cache_dir), model_fingerprint=MODEL_FP,
                   input_col="text", output_col="vector", id_col="doc_id")


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sizes: dict = {}
        self.detail: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.data_dir, name)

    def read(self, *paths):
        return self.spark.read.parquet(*paths)

    def build(self) -> None:
        """Nothing to build by default."""


# ---------------------------------------------------------------------------
# prep: batch curation
# ---------------------------------------------------------------------------


class Prep(Workload):
    name = "prep"
    N_DOCS = 600
    # assumed shares, not taken from a measured crawl
    SHARES = {"exact": 0.06, "near": 0.06, "lowq": 0.04}
    PASSAGE = 64
    CAPACITY = 512
    N_WARM_JOBS = 2
    # the first timed job still pays for JIT work the warm-up queued; two
    # jobs a run keep that share alike in every run
    MIN_OPS = 2

    def generate(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        vocab = gen.Vocab(rng)
        self.corpus = gen.plant_corpus(rng, vocab, self.N_DOCS, self.SHARES["exact"],
                                       self.SHARES["near"], self.SHARES["lowq"])
        gen.write_docs(self.path("corpus.parquet"), self.corpus.ids, self.corpus.texts,
                       self.corpus.sources)
        self.sizes = {"docs": self.N_DOCS, "warm_jobs": self.N_WARM_JOBS,
                      **{f"{k}_share": v for k, v in self.SHARES.items()},
                      "passage_tokens": self.PASSAGE, "pack_capacity": self.CAPACITY}

    def warm(self) -> None:
        # full jobs over the same corpus, so the JIT and the Python workers
        # see the plans the timed jobs run; the first is much the slowest
        for r in range(self.N_WARM_JOBS):
            self.before_op()
            self.run_stages(self.path("corpus.parquet"), f"warm{r}")

    def curate(self, path: str, tag: str) -> dict:
        """The curation job as lazy stages (dedup and predict launch their
        eager jobs inside the call)."""
        s = {"docs": self.read(path)}
        s["kept"] = (Sequential(GopherQualityFilter(), LangId())(s["docs"])
                     .filter(F.col("keep")).select("doc_id", "text", "source"))
        s.update(self.dedup(s["kept"]))
        s["tokenized"] = self.tokenize(s["survivors"])
        s["passages"] = self.passages(s["tokenized"])
        s["packed"] = self.pack(s["passages"])
        s["vectors"] = predictor(os.path.join(self.ctx.tmp_dir, f"predict-{tag}"))(s["survivors"])
        return s

    @staticmethod
    def dedup(kept) -> dict:
        groups = ExactDedup(key_col="text", id_col="doc_id")(kept)
        copies = (kept.join(groups.select(F.col("text").alias("__t"), "canonical_id"),
                            kept["text"] == F.col("__t"))
                  .filter(F.col("doc_id") != F.col("canonical_id")).select("doc_id"))
        unique = kept.join(copies, "doc_id", "left_anti")
        pairs = MinHashDedup(text_col="text", id_col="doc_id", threshold=0.5)(unique)
        clusters = DedupClusters()(pairs.select("doc_a", "doc_b"))
        survivors = (unique.join(clusters, "doc_id", "left")
                     .filter(F.coalesce("cluster_id", "doc_id") == F.col("doc_id"))
                     .select("doc_id", "text", "source"))
        return {"unique": unique, "pairs": pairs, "survivors": survivors}

    @staticmethod
    def tokenize(survivors):
        return RegexTokenizer(text_col="text")(survivors).select("doc_id", "source", "tokens")

    def passages(self, tokenized):
        return GeneratePassages(token_col="tokens", size=self.PASSAGE,
                                global_cols=["doc_id", "source"])(tokenized)

    def pack(self, passages):
        seqs = passages.select("source",
                               (F.col("doc_id") * 1000 + F.col("passage_idx")).alias("pid"),
                               F.size("tokens").alias("n_tok"))
        return PackSequences(capacity=self.CAPACITY, token_col="n_tok", order_col="pid")(seqs)

    def run_stages(self, path: str, tag: str, traced: bool = False) -> dict:
        s = self.curate(path, tag)
        if traced:
            with self.ctx.tracer.span("catalyst.plan"):
                plan(s["packed"])
                plan(s["vectors"])
        noop(s["packed"])
        noop(s["vectors"])
        return s

    def before_op(self) -> None:
        """Untimed: every curation job starts from cold artifact caches."""
        self.ctx.clear_caches()

    def op(self, i: int, traced: bool) -> int:
        self.last = self.run_stages(self.path("corpus.parquet"), f"op{i}", traced)
        return self.N_DOCS

    def check(self) -> dict:
        s, c = self.last, self.corpus
        surv = {r[0] for r in s["survivors"].select("doc_id").collect()}
        packed = s["packed"].groupBy("source").agg(
            F.sum("n_tokens").alias("tok"), F.max("end_pack").alias("last")).collect()
        vec = s["vectors"].select("doc_id", "vector").collect()
        by_kind = {}
        for d, k in c.kind.items():
            by_kind.setdefault(k, set()).add(d)
        text = dict(zip(c.ids, c.texts))
        tok_total = sum(len(gen.tokens(text[d])) for d in surv)
        packed_total = sum(r["tok"] for r in packed)
        sample = sorted(vec, key=lambda r: r["doc_id"])[:32]
        want = gen.embed([text[r["doc_id"]] for r in sample])
        got = np.array([r["vector"] for r in sample])
        self.detail.update(
            n_survivors=len(surv),
            fill_ratio=packed_total / (sum(r["last"] + 1 for r in packed) * self.CAPACITY),
            planted_recall=len(by_kind["near"] - surv) / len(by_kind["near"]),
        )
        return {
            "exact_copies_dropped": not (by_kind["exact"] & surv),
            "uniques_kept": by_kind["unique"] <= surv,
            "lowq_dropped": not (by_kind["lowq"] & surv),
            "packed_tokens_conserved": packed_total == tok_total,
            "one_vector_per_survivor": sorted(r["doc_id"] for r in vec) == sorted(surv),
            "vectors_match_model": bool(np.allclose(got, want, atol=1e-9)),
        }

    def probe(self) -> dict:
        """Each stage's output materialized on its own, over a checkpointed
        copy of its input."""
        self.ctx.clear_caches()
        docs = self.read(self.path("corpus.parquet")).localCheckpoint()
        out = {}
        kept = Sequential(GopherQualityFilter(), LangId())(docs).filter(F.col("keep")).select(
            "doc_id", "text", "source")
        out["text.analysis.exec_s"] = timed(lambda: noop(kept))
        kept = kept.localCheckpoint()
        d = self.dedup(kept)
        out["text.dedup.exec_s"] = timed(lambda: noop(d["survivors"]))
        self.detail["pairs_per_doc"] = d["pairs"].count() / max(d["unique"].count(), 1)
        surv = d["survivors"].localCheckpoint()
        tok = self.tokenize(surv)
        out["pipes.tokenizer.exec_s"] = timed(lambda: noop(tok))
        pas = self.passages(tok.localCheckpoint())
        out["pipes.passages.exec_s"] = timed(lambda: noop(pas))
        packed = self.pack(pas.localCheckpoint())
        out["text.packing.exec_s"] = timed(lambda: noop(packed))
        vectors = predictor(os.path.join(self.ctx.tmp_dir, "predict-probe"))(surv)
        out["pipes.predict.exec_s"] = timed(lambda: noop(vectors))
        return out


# ---------------------------------------------------------------------------
# serve: hybrid retrieval over a built index
# ---------------------------------------------------------------------------


class Serve(Workload):
    name = "serve"
    N_DOCS = 2000
    # assumed batch size and repeat share, not taken from a measured query
    # log; the run reports the repeat share it served
    BATCH = 16
    REPEAT_SHARE = 0.25
    # the stream's mix repeats every four batches: three fresh, one repeat
    CYCLE = 4
    # two whole cycles a run, so the medians cover the same batch positions
    # after warm-up in every run
    MIN_OPS = 2 * CYCLE
    N_BATCHES = 32
    N_WARM_BATCHES = 3

    def generate(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        vocab = gen.Vocab(rng)
        self.corpus = gen.plant_corpus(rng, vocab, self.N_DOCS, 0.0, 0.0, 0.0)
        gen.write_docs(self.path("corpus.parquet"), self.corpus.ids, self.corpus.texts,
                       self.corpus.sources)
        self.warm_paths = gen.query_stream(rng, vocab, self.ctx.data_dir,
                                           self.N_WARM_BATCHES + 1, self.BATCH, 0.0,
                                           first_qid=10**7, prefix="warm")
        self.stream = gen.query_stream(rng, vocab, self.ctx.data_dir, self.N_BATCHES,
                                       self.BATCH, self.REPEAT_SHARE)
        self.sizes = {"docs": self.N_DOCS, "batch_queries": self.BATCH,
                      "repeat_share": self.REPEAT_SHARE,
                      "warm_batches": self.N_WARM_BATCHES}

    def build(self) -> None:
        docs = self.read(self.path("corpus.parquet"))

        def build():
            vectors = predictor(os.path.join(self.ctx.tmp_dir, "predict"))(docs)
            self.vectors = vectors.select("doc_id", "vector")
            self.bm25 = Bm25Search(corpus=docs, k=K)
            self.bm25(self.read(self.warm_paths[0]))  # builds the index eagerly

        self.detail["index_build_s"] = timed(build)
        self.dense = DenseSearch(self.vectors, k=K, corpus_id="doc_id", corpus_vec="vector",
                                 query_id="query_id", query_vec="embedding")
        self.index = Index(corpus=docs, engines=[self.bm25, self.dense], k=K,
                           merge_previous_results=True, merge_strategy="rrf")
        self.results: dict = {}
        self.repeats_checked = self.repeats_equal = 0

    def warm(self) -> None:
        for p in self.warm_paths[1:]:
            cached_results(self.index, self.read(p)).collect()

    def op(self, i: int, traced: bool) -> int:
        p = self.stream[i % len(self.stream)]
        with self.ctx.tracer.span("search.cached") as sp:
            df = cached_results(self.index, self.read(p))
        if traced:
            with self.ctx.tracer.span("catalyst.plan"):
                plan(df)
        rows = sorted(tuple(r) for r in df.collect())
        if sp is not None:
            sp["batch"] = os.path.basename(p)
        self.served_from_cache = p in self.results
        if self.served_from_cache:
            self.repeats_checked += 1
            self.repeats_equal += rows == self.results[p]
        else:
            self.results[p] = rows
        return self.BATCH

    def check(self) -> dict:
        ok = {"repeats_identical": self.repeats_equal == self.repeats_checked}
        text = dict(zip(self.corpus.ids, self.corpus.texts))
        vecs = gen.embed([text[d] for d in self.corpus.ids])
        sample = list(self.results)[:2]
        bm25_ok = dense_ok = fused_ok = True
        for p in sample:
            q = self.read(p)
            b = checks.ranked(self.bm25(q).collect())
            d = checks.ranked(self.dense(q).collect())
            qt = pq.read_table(p).to_pylist()
            bm25_ok &= checks.same_bm25(b, checks.bm25_oracle([self.path("corpus.parquet")], p, K))
            dense_ok &= checks.dense_matches(d, self.corpus.ids, vecs,
                                             {r["query_id"]: r["embedding"] for r in qt}, K)
            fused: dict = {}
            for qid, _rank, idx, _score in sorted(self.results[p], key=lambda r: (r[0], r[1])):
                fused.setdefault(qid, []).append(idx)
            fused_ok &= fused == checks.rrf([b, d], k=K)
        ok.update(bm25_matches_duckdb=bm25_ok, dense_matches_numpy=dense_ok,
                  fused_matches_rrf=fused_ok)
        self.detail["batches_checked"] = len(sample)
        self.detail["repeats_checked"] = self.repeats_checked
        self.detail["repeat_share_served"] = self.repeats_checked / max(
            self.repeats_checked + len(self.results), 1)
        return ok

    def probe(self) -> dict:
        q = self.read(self.warm_paths[0])
        out = {"search.bm25.exec_s": timed(lambda: noop(self.bm25(q))),
               "search.dense.exec_s": timed(lambda: noop(self.dense(q)))}
        b = self.bm25(q).localCheckpoint()
        d = self.dense(q).localCheckpoint()
        fused = topk_results(rrf_fuse(topk_results(b, 100), topk_results(d, 100), c=60.0, k=100)
                             .select("query_id", "idx", F.col("rrf").alias("score")), K)
        out["search.index.fuse_exec_s"] = timed(lambda: noop(fused))
        out["pipes.predict.exec_s"] = timed(lambda: noop(self.vectors))
        return out


# ---------------------------------------------------------------------------
# append: daily crawl increments
# ---------------------------------------------------------------------------


class Append(Workload):
    name = "append"
    N_BASE = 2500
    N_DELTA = 120
    # assumed shares, not taken from a measured crawl
    SHARES = {"recrawl": 0.1, "near": 0.06, "lowq": 0.06}
    N_DELTAS = 40
    BATCH = 16

    def generate(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        vocab = gen.Vocab(rng)
        base = gen.plant_corpus(rng, vocab, self.N_BASE, 0.0, 0.0, 0.0)
        self.base_path = gen.write_docs(self.path("base.parquet"), base.ids, base.texts,
                                        base.sources)
        self.texts = dict(zip(base.ids, base.texts))
        self.kind: dict = {}
        self.deltas, self.queries = [], []
        nxt, pool = self.N_BASE, list(base.ids)
        for i in range(self.N_DELTAS + 1):
            n_re = int(round(self.SHARES["recrawl"] * self.N_DELTA))
            n_near = int(round(self.SHARES["near"] * self.N_DELTA))
            n_low = int(round(self.SHARES["lowq"] * self.N_DELTA))
            ids, texts = [], []
            for j in range(self.N_DELTA):
                if j < n_re:
                    kind, t = "recrawl", self.texts[int(rng.choice(pool))]
                elif j < n_re + n_near:
                    kind, t = "near", gen.paraphrase(rng, vocab, self.texts[int(rng.choice(pool))])
                elif j < n_re + n_near + n_low:
                    kind, t = "lowq", gen.bad_doc(rng, vocab)
                else:
                    kind, t = "new", gen.good_doc(rng, vocab)
                ids.append(nxt)
                texts.append(t)
                self.kind[nxt] = kind
                self.texts[nxt] = t
                nxt += 1
            # new docs join the pool only once admitted; planting against
            # the base keeps every planted copy's original in the corpus
            self.deltas.append(gen.write_docs(self.path(f"delta_{i:03d}.parquet"), ids, texts,
                                              [f"src{d % 4}" for d in ids]))
            self.queries.append(gen.write_queries(
                self.path(f"fresh_{i:03d}.parquet"),
                list(range(i * self.BATCH, (i + 1) * self.BATCH)),
                gen.query_texts(rng, vocab, self.BATCH)))
        self.sizes = {"base_docs": self.N_BASE, "delta_docs": self.N_DELTA,
                      **{f"{k}_share": v for k, v in self.SHARES.items()},
                      "fresh_queries": self.BATCH}

    def build(self) -> None:
        self.corpus_paths = [self.base_path]
        self.engine = Bm25Search(corpus=self.read(self.base_path), k=K)
        self.detail["base_build_s"] = timed(
            lambda: self.engine(self.read(self.queries[-1])))
        self.fresh: list = []
        self.tried: list = []

    def warm(self) -> None:
        self.admit(self.N_DELTAS, "warm")  # warm-up cycle, folded into the corpus
        self.fresh_query()

    @staticmethod
    def gate(delta):
        return GopherQualityFilter()(delta).filter(F.col("keep")).select("doc_id", "text", "source")

    @staticmethod
    def dedup(corpus, gated) -> tuple:
        """(exact-new docs, their verified near-dup pairs against the corpus)."""
        fresh = IncrementalDedup(corpus=corpus)(gated)
        return fresh, IncrementalMinHashDedup(corpus=corpus, threshold=0.5)(fresh)

    def admit(self, i: int, tag: str):
        corpus = self.read(*self.corpus_paths)
        fresh, near = self.dedup(corpus, self.gate(self.read(self.deltas[i])))
        admitted = fresh.join(near.select(F.col("new_id").alias("doc_id")).distinct(),
                              "doc_id", "left_anti")
        self.tried.append(i)
        out = self.path(f"admitted_{tag}.parquet")
        admitted.write.parquet(out)
        self.engine = self.engine.append(self.read(out))
        self.pending = (self.engine(self.read(self.queries[i])), self.queries[i])
        self.corpus_paths.append(out)

    def fresh_query(self, traced: bool = False) -> float:
        df, qpath = self.pending
        t = time.perf_counter()
        if traced:
            with self.ctx.tracer.span("catalyst.plan"):
                plan(df)
        rows = df.collect()
        dt = time.perf_counter() - t
        self.fresh.append((list(self.corpus_paths), qpath, rows))
        return dt

    def op(self, i: int, traced: bool) -> int:
        self.admit(i, f"{i:03d}")
        return self.N_DELTA

    def after_op(self, traced: bool) -> float:
        """The first query batch against the freshly appended engine."""
        return self.fresh_query(traced)

    def admitted_ids(self) -> set:
        return {d for p in self.corpus_paths[1:] for d in pq.read_table(p, columns=["doc_id"])
                .column(0).to_pylist()}

    def check(self) -> dict:
        adm = self.admitted_ids()
        tried = {d for i in self.tried for d in pq.read_table(self.deltas[i], columns=["doc_id"])
                 .column(0).to_pylist()}
        by_kind: dict = {}
        for d in tried:
            by_kind.setdefault(self.kind[d], set()).add(d)
        oracle_ok = all(
            checks.same_bm25(checks.ranked(rows), checks.bm25_oracle(paths, qpath, K))
            for paths, qpath, rows in self.fresh)
        paths, qpath, rows = self.fresh[-1]
        scratch = Bm25Search(corpus=self.read(*paths), k=K,
                             index_cache_dir=os.path.join(self.ctx.tmp_dir, "scratch_index"))
        scratch_ok = checks.same_bm25(checks.ranked(rows),
                                      checks.ranked(scratch(self.read(qpath)).collect()))
        near = by_kind.get("near", set())
        self.detail["planted_recall"] = len(near - adm) / max(len(near), 1)
        self.detail["fresh_batches_checked"] = len(self.fresh)
        return {
            "recrawls_rejected": not (by_kind.get("recrawl", set()) & adm),
            "lowq_rejected": not (by_kind.get("lowq", set()) & adm),
            "fresh_results_match_duckdb": oracle_ok,
            "appended_matches_scratch_build": scratch_ok,
        }

    def probe(self) -> dict:
        corpus = self.read(*self.corpus_paths)
        gated = self.gate(self.read(self.deltas[self.tried[-1]]).localCheckpoint())
        out = {"text.analysis.exec_s": timed(lambda: noop(gated))}
        gated = gated.localCheckpoint()
        _fresh, near = self.dedup(corpus, gated)
        out["text.dedup.exec_s"] = timed(lambda: noop(near))
        self.detail["pairs_per_doc"] = near.count() / max(gated.count(), 1)
        q = self.read(self.queries[0])
        out["search.bm25.exec_s"] = timed(lambda: noop(self.engine(q)))
        return out


WORKLOADS = {w.name: w for w in (Prep, Serve, Append)}
