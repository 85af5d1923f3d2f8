"""Boolean (conjunctive + negation) retrieval over an inverted index —
the Elasticsearch ``bool`` query surface (``must`` / ``must_not``) next
to the ``match`` (BM25), ``match_phrase`` (positional) and ``wildcard``
(trigram) engines the repo already serves; the reference drives exactly
this ES surface (``warp_pipes/support/elasticsearch.py`` es_search
bodies compose bool filters around the match clause).

Plan shape (100 TB posture, the ``search/trigram.py`` conventions):

* the DISTINCT (term, doc_id) posting is built once per corpus
  fingerprint and materialized gram-clustered by term — repeated query
  batches never re-tokenize the corpus;
* ``must``: the batch's required terms (tiny) BROADCAST into the
  posting; a doc survives iff it matched ALL its query's required
  terms (count == n_must — one map-side-combined aggregation);
* ``must_not``: excluded-term hits reduce to distinct (query, doc)
  pairs and LEFT ANTI join the survivors — negation never scans
  documents, only posting slices;
* document text is never touched after indexing (exact-match semantics
  need no verify pass, unlike the trigram engines).

Round-9 DENSE strategy (the ``search/trigram.py`` similarity engine's
convention, chosen per batch from exact scalars): when the batch's
distinct terms fit ``mask_terms_max`` and the posting fan-out
Σ df(query terms) exceeds |queries| x |docs| — a near-uniform-df
vocabulary where every term's posting slice is corpus-sized — each
document's queried-term set packs into ceil(n/64) longs via ONE
bounded pass over the literal-IN-pruned posting, and both clauses
become per-row bitwise predicates over a broadcast pair enumeration:
``(doc & must) == must AND (doc & must_not) == 0``. No fan-out
aggregate, no anti join; result-identical by construction (a bit is
set iff the (term, doc) posting row exists). Sparse batches keep the
aggregation plan, now with the same literal-IN term pushdown pruning
the index scan to the queried slices.

Contract guards (one planning job, the trigram convention): unique
query ids and a non-empty ``must`` set per query — an empty
conjunction would match the whole corpus, which is a full-scan
request, not an index lookup.

The DuckDB oracle is the naive per-document token-array check
(``list_has_all`` / ``NOT list_has_any`` over the shared tokenizer),
so the differential proves the posting path scan-identical.
"""

from __future__ import annotations

import os
import tempfile
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp_pipes_spark.core.pipe import Pipe


def boolean_cache_dir() -> str:
    """Override with ``WPS_BOOL_CACHE_DIR`` (shared storage on a
    cluster so every driver reuses the posting)."""
    return os.environ.get(
        "WPS_BOOL_CACHE_DIR",
        os.path.join(tempfile.gettempdir(), "warp_pipes_spark_bool"),
    )


class BooleanSearch(Pipe):
    """Input df = (``query_id``, ``must`` array<string>, ``must_not``
    array<string>) of NORMALIZED terms (run the shared tokenizer on
    free text first); output = (query_id, doc_id) for every corpus
    document containing ALL ``must`` terms and NONE of the
    ``must_not`` terms, identical to the naive token-array scan."""

    def __init__(
        self,
        corpus: DataFrame,
        corpus_id: str = "doc_id",
        corpus_text: str = "text",
        query_id: str = "query_id",
        must_col: str = "must",
        must_not_col: str = "must_not",
        materialize_index: bool = True,
        index_cache_dir: Optional[str] = None,
        mask_terms_max: int = 4096,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.corpus = corpus
        self.corpus_id = corpus_id
        self.corpus_text = corpus_text
        self.query_id = query_id
        self.must_col = must_col
        self.must_not_col = must_not_col
        self.materialize_index = materialize_index
        self.index_cache_dir = index_cache_dir or boolean_cache_dir()
        # cap on the batch's DISTINCT term count for the literal-IN
        # pushdown and the dense regime's bitmask width; larger batches
        # fall back to the aggregation plan with no pushdown. 0
        # disables both.
        self.mask_terms_max = mask_terms_max

    _no_fingerprint = ("corpus",)

    def _index_fingerprint(self) -> str:
        from warp_pipes_spark.core.fingerprint import (
            fingerprint_dataframe,
            get_fingerprint,
        )

        return get_fingerprint(
            {
                "op": "bool_posting_v1",
                "corpus": fingerprint_dataframe(self.corpus),
                "id": self.corpus_id,
                "text": self.corpus_text,
            }
        )

    def _posting(self) -> DataFrame:
        """DISTINCT (term, doc_id) posting, term-clustered Parquet under
        the corpus fingerprint (tokens_expr emits duplicates within a
        doc, so distinct is per-doc via array_distinct BEFORE the
        explode — no corpus-sized distinct shuffle)."""
        from warp_pipes_spark.text.analysis import tokens_expr

        built = self.corpus.select(
            F.col(self.corpus_id).alias("doc_id"),
            F.explode(
                F.array_distinct(tokens_expr(F.col(self.corpus_text)))
            ).alias("term"),
        )
        if not self.materialize_index:
            return built
        from warp_pipes_spark.pipes.cache import CacheManager

        manager = CacheManager(self.index_cache_dir)
        fp = self._index_fingerprint()
        return manager.get_or_compute(
            self.corpus.sparkSession,
            fp,
            lambda: built.repartitionByRange("term").sortWithinPartitions(
                "term"
            ),
        )

    def _term_stats(self, posting: DataFrame) -> DataFrame:
        """(term, __df) document frequencies — the vocabulary-sized table
        the strategy chooser's exact fan-out sum reads; cached under the
        corpus fingerprint (the BM25 ``_termdf`` convention)."""
        built = posting.groupBy("term").agg(
            F.count(F.lit(1)).alias("__df")
        )
        if not self.materialize_index:
            return built
        from warp_pipes_spark.pipes.cache import CacheManager

        manager = CacheManager(self.index_cache_dir)
        fp = self._index_fingerprint() + "_termdf"
        return manager.get_or_compute(self.corpus.sparkSession, fp, lambda: built)

    def _n_docs(self, posting: DataFrame) -> int:
        """|distinct indexed docs| — the dense plan's pair-count factor.
        Index-intrinsic, so the first batch pays the probe job and
        memoizes the scalar in the termdf artifact's sidecar meta (the
        BM25 ``_n_postings`` convention)."""
        manager = fp = None
        if self.materialize_index:
            from warp_pipes_spark.pipes.cache import CacheManager

            manager = CacheManager(self.index_cache_dir)
            fp = self._index_fingerprint() + "_termdf"
            cached = manager.read_meta(fp).get("n_docs")
            if cached is not None:
                return cached
        n = posting.select("doc_id").distinct().count()
        if manager is not None and manager.exists(fp):
            manager.update_meta(fp, {"n_docs": int(n)})
        return int(n)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        q = df.select(
            F.col(self.query_id).alias("query_id"),
            F.array_distinct(F.col(self.must_col)).alias("__must"),
            F.array_distinct(
                F.coalesce(
                    F.col(self.must_not_col),
                    F.array().cast("array<string>"),
                )
            ).alias("__not"),
        )
        posting = self._posting()
        stats = self._term_stats(posting)
        # the batch's term rows, flagged by clause — feeds the planning
        # aggregate here and the query-mask build in the dense plan
        terms = q.select(
            "query_id",
            F.lit(True).alias("__req"),
            F.explode("__must").alias("term"),
        ).unionByName(
            q.select(
                "query_id",
                F.lit(False).alias("__req"),
                # explode_outer keeps empty-must_not queries as a NULL
                # term row (mask 0); the planning aggregate and the bit
                # table join treat NULL as no-op
                F.explode_outer("__not").alias("term"),
            )
        )
        # ONE planning job: both contract guards (unique ids, non-empty
        # must — the trigram convention, never raise_error folded into
        # the plan) plus the strategy scalars: distinct batch terms
        # (sliced one past the cap so truncation is detectable) and the
        # EXACT posting fan-out sum df(t) over every clause term.
        plan = (
            q.groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.min(F.size("__must")).alias("__m"),
            )
            .groupBy()
            .agg(
                F.max("__n").alias("max_dup"),
                F.min("__m").alias("min_must"),
                F.sum("__n").alias("n_q"),
            )
            .crossJoin(
                terms.join(stats, "term", "left")
                .na.fill({"__df": 0})
                .groupBy()
                .agg(
                    F.sum("__df").alias("fan_est"),
                    F.slice(
                        F.sort_array(F.collect_set("term")),
                        1,
                        self.mask_terms_max + 1,
                    ).alias("__terms"),
                )
            )
        )
        row = plan.collect()[0]
        if row["max_dup"] is not None and row["max_dup"] > 1:
            raise ValueError(
                "BooleanSearch: duplicate query_id — each id must map"
                " to ONE (must, must_not) pair."
            )
        if row["min_must"] is not None and row["min_must"] < 1:
            raise ValueError(
                "BooleanSearch: empty must set — an empty conjunction"
                " matches the whole corpus; that's a scan, not an index"
                " lookup."
            )
        batch_terms = list(row["__terms"] or [])
        bounded = bool(self.mask_terms_max) and (
            len(batch_terms) <= self.mask_terms_max
        )
        # the probe/memo must see the FULL posting (n_docs is an index
        # fact, not a batch fact), so take it before any pushdown
        dense = (
            bounded
            and batch_terms
            and (row["fan_est"] or 0) > row["n_q"] * self._n_docs(posting)
        )
        if bounded and batch_terms:
            # literal IN on the term-sorted index Parquet: row-group
            # min/max pruning skips every unqueried term's slice
            # (lossless — only batch terms can join or set mask bits)
            posting = posting.filter(F.col("term").isin(batch_terms))
        if dense:
            return self._transform_masks(q, terms, posting, batch_terms)
        # SPARSE plan: broadcast terms into the posting, count == n_must
        # conjunction, distinct excluded hits LEFT ANTI joined
        must = q.select(
            "query_id",
            F.size("__must").alias("n_must"),
            F.explode("__must").alias("term"),
        )
        hits = (
            posting.join(F.broadcast(must), "term")
            .groupBy("query_id", "doc_id", "n_must")
            .agg(F.count(F.lit(1)).alias("hit"))
            .filter(F.col("hit") == F.col("n_must"))
            .select("query_id", "doc_id")
        )
        excl = q.select("query_id", F.explode("__not").alias("term"))
        bad = (
            posting.join(F.broadcast(excl), "term")
            .select("query_id", "doc_id")
            .distinct()
        )
        return hits.join(bad, ["query_id", "doc_id"], "left_anti")

    def _transform_masks(
        self,
        q: DataFrame,
        terms: DataFrame,
        posting: DataFrame,
        batch_terms: list,
    ) -> DataFrame:
        """DENSE plan: packed-bitmask clause evaluation (see module
        docstring). ``posting`` arrives pruned to the batch's terms."""
        from warp_pipes_spark.search.masks import (
            bit_rows,
            disjoint_from,
            doc_masks,
            mask_aggs,
            n_buckets,
            superset_of,
        )

        spark = posting.sparkSession
        nb = n_buckets(batch_terms)
        pos = spark.createDataFrame(
            bit_rows(batch_terms), "term string, __b int, __v long"
        )
        dm = doc_masks(posting, pos, "term", nb, "dm")
        # one aggregation packs BOTH clause masks per query; the left
        # join keeps empty-must_not queries (NULL term -> both whens
        # false -> mask 0). A NULL ELEMENT inside must (distinct from an
        # empty must_not's explode_outer NULL: __req tells them apart)
        # can never be satisfied by any posting row — the aggregation
        # plan's count < n_must semantics — so such queries are dropped
        # from the mask table entirely (zero output rows, identical).
        qm = (
            terms.join(F.broadcast(pos), "term", "left")
            .groupBy("query_id")
            .agg(
                *mask_aggs(nb, "mu", when=F.col("__req")),
                *mask_aggs(nb, "no", when=~F.col("__req")),
                F.max(
                    F.col("__req") & F.col("term").isNull()
                ).alias("__badmust"),
            )
            .filter(~F.col("__badmust"))
            .drop("__badmust")
        )
        return (
            dm.crossJoin(F.broadcast(qm))
            .filter(
                superset_of(nb, "dm", "mu") & disjoint_from(nb, "dm", "no")
            )
            .select("query_id", "doc_id")
        )


def boolean_search_sql(
    corpus_table: str,
    queries_sql: str,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    query_id: str = "query_id",
    must: str = "must",
    must_not: str = "must_not",
) -> str:
    """DuckDB oracle for :class:`BooleanSearch` — the NAIVE per-document
    token-array scan (shared tokenizer) the posting path must exactly
    reproduce."""
    from warp_pipes_spark.text.analysis import tokens_sql

    return f"""
SELECT q.{query_id} AS query_id, d.{corpus_id} AS doc_id
FROM ({queries_sql}) q
JOIN {corpus_table} d
  ON list_has_all({tokens_sql(corpus_text)}, q.{must})
 AND NOT list_has_any({tokens_sql(corpus_text)}, q.{must_not})
"""
