"""Round-9 behavioral tests: the trigram-similarity dense/sparse
strategy split (packed-bitmask intersections vs the exhaustive posting
count — result-identical by construction, verified differentially
here), plus the other round-9 optimization seams.
"""

import pytest
from pyspark.sql import functions as F


def _sim_expr(inter, nq, nd):
    """The engine/oracle's exact sim arithmetic (ONE decimal-rounded
    division over exact integers)."""
    return (
        (
            inter.cast("double")
            / (nq + nd - inter).cast("double")
        )
        .cast("decimal(18,6)")
        .cast("double")
    )


def _naive_similarity(spark, docs, qs, tau):
    """The oracle's naive cross-join Jaccard, in Spark, with the exact
    same integer inputs and decimal rounding as the engine."""
    from warp_pipes_spark.search.trigram import grams_expr

    q = qs.select(
        F.col("query_id"),
        grams_expr(F.col("pattern")).alias("__qg"),
    )
    d = docs.select(
        F.col("doc_id"),
        grams_expr(F.col("text")).alias("__dg"),
    )
    pairs = q.crossJoin(d).select(
        "query_id",
        "doc_id",
        F.size(F.array_intersect("__qg", "__dg")).alias("__inter"),
        F.size("__qg").alias("__nq"),
        F.size("__dg").alias("__nd"),
    )
    sim = _sim_expr(F.col("__inter"), F.col("__nq"), F.col("__nd"))
    return (
        pairs.filter(F.col("__inter") > 0)
        .select("query_id", "doc_id", sim.alias("sim"))
        .filter(F.col("sim") >= F.lit(float(tau)))
    )


def test_trgm_sim_dense_mask_strategy_closed_form(spark, tmp_path):
    """Dense-regime construction: query 'abcdefg' (grams abc..efg,
    nq=5) over a corpus where fan_est (sum of query-gram dfs = 7)
    exceeds |queries| x |docs with grams| (1 x 6 = 6), so the packed-
    bitmask plan is chosen. Boundary doc 'abcd' has sim = 2/5 = 0.4
    == tau and must be KEPT (ties at the threshold are inclusive)."""
    from warp_pipes_spark.search.trigram import TrigramSimilaritySearch

    docs = spark.createDataFrame(
        [(1, "abcd")]
        + [(10 + i, "xabcx") for i in range(5)],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame([(9, "abcdefg")], ["query_id", "pattern"])

    for kwargs in (
        dict(materialize_index=False),
        # materialized path additionally exercises the literal-IN gram
        # pushdown onto the gram-clustered index Parquet
        dict(
            materialize_index=True,
            index_cache_dir=str(tmp_path / "trgm"),
        ),
        # mask_grams_max=0 forces the sparse (exhaustive-count) plan —
        # both strategies must agree exactly
        dict(materialize_index=False, mask_grams_max=0),
    ):
        out = sorted(
            (r["query_id"], r["doc_id"], r["sim"])
            for r in TrigramSimilaritySearch(
                corpus=docs, tau=0.4, **kwargs
            )(qs).collect()
        )
        # doc 1: inter=2, nq=5, nd=2 -> 2/5 = 0.4 == tau (boundary KEPT)
        # docs 1x: inter=1 ({abc}), nd=3 -> 1/7 < 0.4 (excluded)
        assert out == [(9, 1, 0.4)], (kwargs, out)

    # tau just above the boundary drops the doc
    out2 = TrigramSimilaritySearch(
        corpus=docs, tau=0.41, materialize_index=False
    )(qs).collect()
    assert out2 == []


@pytest.mark.parametrize("tau", [0.2, 0.35, 0.6])
@pytest.mark.parametrize("mask_max", [4096, 0])
def test_trgm_sim_strategies_match_naive_cross_join(spark, tau, mask_max):
    """Differential: heavy gram sharing (tiny alphabet — the dense
    regime's trigger shape), short/empty/NULL docs and patterns, vs the
    naive cross-join Jaccard with identical integer algebra, under BOTH
    physical strategies. exceptAll both ways == 0."""
    from warp_pipes_spark.search.trigram import TrigramSimilaritySearch

    words = ["abcab", "bcabc", "cabca", "aabb", "bbcc", "ccaa", "abc"]
    docs_rows = []
    for i in range(40):
        # deterministic pseudo-random composition
        a = words[(i * 7) % len(words)]
        b = words[(i * 13 + 3) % len(words)]
        c = words[(i * 29 + 5) % len(words)]
        docs_rows.append((i, (a + b + c)[: 4 + (i % 13)]))
    docs_rows += [(100, "ab"), (101, ""), (102, None), (103, "abcabcabc")]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    qs = spark.createDataFrame(
        [
            (0, "abcab"),
            (1, "bcabcaa"),
            (2, "ccaabb"),
            (3, "ab"),  # no trigram -> no output rows
            (4, "aabbccaa"),
        ],
        ["query_id", "pattern"],
    )
    got = TrigramSimilaritySearch(
        corpus=docs,
        tau=tau,
        materialize_index=False,
        mask_grams_max=mask_max,
    )(qs)
    want = _naive_similarity(spark, docs, qs, tau)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_trgm_sim_mask_width_over_64_buckets(spark):
    """> 64 distinct batch grams forces multi-long masks (bucket > 0)
    including the sign bit (position 63); differential vs naive."""
    from warp_pipes_spark.search.trigram import TrigramSimilaritySearch

    # one long doc supplies > 64 distinct grams; pattern shares a chunk
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    text = "".join(
        alpha[(i * 7) % 36] + alpha[(i * 11 + 3) % 36] for i in range(60)
    )
    docs = spark.createDataFrame(
        [(1, text), (2, text[:30]), (3, text[40:90])],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(0, text[10:50]), (1, text[60:100])], ["query_id", "pattern"]
    )
    tau = 0.2
    got = TrigramSimilaritySearch(
        corpus=docs, tau=tau, materialize_index=False
    )(qs)
    want = _naive_similarity(spark, docs, qs, tau)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _naive_boolean(spark, docs, qs):
    """The oracle's naive token-array scan (shared tokenizer), in
    Spark."""
    from warp_pipes_spark.text.analysis import tokens_expr

    toks = docs.select(
        F.col("doc_id"),
        F.array_distinct(tokens_expr(F.col("text"))).alias("__t"),
    )
    pairs = qs.crossJoin(toks)
    has_all = F.forall(
        F.array_distinct(F.col("must")), lambda t: F.array_contains("__t", t)
    )
    has_none = ~F.exists(
        F.coalesce(F.col("must_not"), F.array().cast("array<string>")),
        lambda t: F.array_contains("__t", t),
    )
    return pairs.filter(has_all & has_none).select("query_id", "doc_id")


@pytest.mark.parametrize("mask_max", [4096, 0])
def test_boolean_strategies_match_naive_scan(spark, mask_max):
    """Differential for both physical strategies (mask_terms_max=0
    forces the aggregation plan) over edge shapes: empty must_not, NULL
    must_not array, corpus-absent must term (query matches nothing),
    corpus-absent must_not term (no effect), duplicate terms within a
    clause."""
    from warp_pipes_spark.search.boolean import BooleanSearch

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta beta epsilon"),
            (3, "gamma delta epsilon"),
            (4, "alpha gamma"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [
            (10, ["alpha", "beta"], ["epsilon"]),
            (11, ["alpha"], []),                     # empty must_not
            (12, ["gamma", "gamma"], None),          # dup terms + NULL arr
            (13, ["alpha", "zzz_oov"], []),          # OOV must -> nothing
            (14, ["delta"], ["zzz_oov"]),            # OOV must_not -> no-op
        ],
        "query_id long, must array<string>, must_not array<string>",
    )
    got = BooleanSearch(
        corpus=docs, materialize_index=False, mask_terms_max=mask_max
    )(qs)
    want = _naive_boolean(spark, docs, qs)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_boolean_null_must_element_matches_nothing(spark):
    """A NULL element inside must can never be satisfied (count <
    n_must in the aggregation plan); the mask plan must agree."""
    from warp_pipes_spark.search.boolean import BooleanSearch

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha")], ["doc_id", "text"]
    )
    qs = spark.createDataFrame(
        [(10, ["alpha", None], []), (11, ["alpha"], [])],
        "query_id long, must array<string>, must_not array<string>",
    )
    for mask_max in (4096, 0):
        out = sorted(
            (r["query_id"], r["doc_id"])
            for r in BooleanSearch(
                corpus=docs, materialize_index=False, mask_terms_max=mask_max
            )(qs).collect()
        )
        assert out == [(11, 1), (11, 2)], (mask_max, out)


def test_bm25_fan_est_dict_matches_join_probe(spark, tmp_path):
    """The driver-side termdf-dict fan-out sum must equal the Spark
    join probe exactly (incl. unindexed query terms contributing 0 and
    duplicate term rows counting per row)."""
    from warp_pipes_spark.search.bm25 import Bm25Search

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta"),
            (3, "alpha"),
        ],
        ["doc_id", "text"],
    )
    eng = Bm25Search(
        corpus=docs, k=2, index_cache_dir=str(tmp_path / "bm25")
    )
    postings = eng._index()
    stats = eng._term_stats(postings)
    qs = spark.createDataFrame(
        [(1, "alpha zzz_oov"), (2, "beta beta gamma")],
        ["query_id", "text"],
    )
    qterms = eng._query_legs(qs)
    dfmap = eng._termdf_map()
    assert dfmap is not None and dfmap == {"alpha": 3, "beta": 2, "gamma": 1}
    got = eng._fan_est(qterms, stats)
    want = (
        qterms.join(stats, "term").agg(F.sum("df")).collect()[0][0] or 0
    )
    assert got == want == 3 + 0 + 2 + 1  # alpha, oov, beta(distinct), gamma

    # vocab over the cap falls back to the join probe (returns None)
    eng._TERMDF_MAP_MAX_ROWS = 1
    from warp_pipes_spark.pipes.cache import _load_memo

    _load_memo.clear()
    assert eng._termdf_map() is None
    assert eng._fan_est(qterms, stats) == want


def test_load_table_plan_memo_invalidation(spark, tmp_path):
    """load_table memoizes the loaded PLAN per (session, path, mtime,
    row_id): same snapshot -> same immutable plan object (no re-listing),
    source rewrite -> fresh plan seeing the new content, row_id variant
    kept separate."""
    import os
    import time

    sf = str(tmp_path)
    p = os.path.join(sf, "documents.parquet")
    from warp_pipes_spark.io import load_table

    spark.range(3).selectExpr("id AS doc_id", "'a' AS text").write.parquet(p)
    a = load_table(spark, sf, "documents")
    b = load_table(spark, sf, "documents")
    assert a is b
    assert a.count() == 3
    r = load_table(spark, sf, "documents", row_id=True)
    assert r is not a and "row_id" in r.columns and "row_id" not in a.columns
    # rewrite the source: the memo must miss (mtime key) and the new
    # plan must see the new content
    time.sleep(0.01)  # ensure a distinct dir mtime even on coarse clocks
    spark.range(5).selectExpr("id AS doc_id", "'b' AS text").write.mode(
        "overwrite"
    ).parquet(p)
    c = load_table(spark, sf, "documents")
    assert c is not a
    assert c.count() == 5


def _subseq_rows():
    """Heavy-gram-sharing corpus (tiny alphabet): the dense regime's
    trigger shape for the substring/wildcard candidate conjunction."""
    words = ["abcab", "bcabc", "cabca", "aabb", "bbcc", "ccaa", "abc"]
    rows = []
    for i in range(40):
        a = words[(i * 7) % len(words)]
        b = words[(i * 13 + 3) % len(words)]
        c = words[(i * 29 + 5) % len(words)]
        rows.append((i, a + b + c))
    rows += [(100, "ab"), (101, ""), (103, "abcabcabc")]
    return rows


def test_substring_strategies_match_naive_contains(spark, tmp_path, monkeypatch):
    """Differential for the round-9 dense candidate conjunction in
    TrigramSubstringSearch: packed-bitmask subset test vs the
    count==n_need aggregate vs the naive contains() join — all three
    bit-identical (OOV-gram patterns included: they must match
    nothing)."""
    from warp_pipes_spark.search import trigram as tg

    docs = spark.createDataFrame(_subseq_rows(), "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "abcab"), (1, "bcabca"), (2, "ccaabb"), (3, "xyzzy"), (4, "aab")],
        ["query_id", "pattern"],
    )
    naive = (
        qs.crossJoin(docs.select("doc_id", "text"))
        .filter(F.contains(F.col("text"), F.col("pattern")))
        .select("query_id", "doc_id")
    )
    sparse = tg.TrigramSubstringSearch(
        corpus=docs,
        index_cache_dir=str(tmp_path / "s"),
        gram_pushdown_max=0,  # forces the aggregation plan, no pushdown
    )(qs)
    # force the dense gate regardless of the tiny corpus' real scalars
    monkeypatch.setattr(
        tg.TrigramSubstringSearch, "_n_docs", lambda self, p: 0
    )
    eng = tg.TrigramSubstringSearch(
        corpus=docs, index_cache_dir=str(tmp_path / "d")
    )
    dense = eng(qs)
    # the dense plan must actually be the mask plan
    assert "__qm0" in dense._jdf.queryExecution().analyzed().toString()
    for got in (sparse, dense):
        assert got.exceptAll(naive).count() == 0
        assert naive.exceptAll(got).count() == 0


def test_wildcard_strategies_match_naive_like(spark, tmp_path, monkeypatch):
    """Same differential for WildcardLikeSearch (pooled literal-run
    grams + LIKE verify) under both candidate strategies."""
    from warp_pipes_spark.search import trigram as tg

    docs = spark.createDataFrame(_subseq_rows(), "doc_id long, text string")
    qs = spark.createDataFrame(
        [
            (0, "abc%bca"),
            (1, "aabb_bcc"),
            (2, "cab%"),
            (3, "xyz%zyx"),
            (4, "%abcab%"),
        ],
        ["query_id", "pattern"],
    )
    naive = (
        qs.crossJoin(docs.select("doc_id", "text"))
        .filter(
            F.like(
                F.col("text"),
                F.concat(F.lit("%"), F.col("pattern"), F.lit("%")),
            )
        )
        .select("query_id", "doc_id")
    )
    sparse = tg.WildcardLikeSearch(
        corpus=docs,
        index_cache_dir=str(tmp_path / "s"),
        gram_pushdown_max=0,
    )(qs)
    monkeypatch.setattr(
        tg.WildcardLikeSearch, "_n_docs", lambda self, p: 0
    )
    dense = tg.WildcardLikeSearch(
        corpus=docs, index_cache_dir=str(tmp_path / "d")
    )(qs)
    assert "__qm0" in dense._jdf.queryExecution().analyzed().toString()
    for got in (sparse, dense):
        assert got.exceptAll(naive).count() == 0
        assert naive.exceptAll(got).count() == 0
