"""Search-engine tests with independent oracles (mirrors the reference's
differential strategy: sum_scores vs dict accumulation, dense vs numpy
argsort, group lookup round-trip)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from warp_pipes_spark.ml.similarity import BruteForceCosineTopK, LshCosineTopK
from warp_pipes_spark.search.group_lookup import GroupLookupSearch
from warp_pipes_spark.search.result import (
    merge_results,
    pad_results,
    results_to_arrays,
    topk_results,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(0)
    corpus = rng.randn(100, 8)
    rows = [(i, [float(x) for x in corpus[i]]) for i in range(100)]
    return corpus, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _merge_oracle(a_rows, b_rows):
    """Dict replica of the reference's offset-by-min merge
    (``result.py:199-239``): within-side sums, then each (query, idx)
    takes score_side or that side's per-query finite min when absent."""
    import math

    def side(rows):
        acc = {}
        for q, i, s in rows:
            if i >= 0:
                acc[(q, i)] = acc.get((q, i), 0.0) + s
        mins = {}
        for (q, _), s in acc.items():
            if math.isfinite(s):
                mins[q] = min(mins.get(q, s), s)
        return acc, mins

    sa, ma = side(a_rows)
    sb, mb = side(b_rows)
    oracle = {}
    for q, i in {*sa, *sb}:
        oracle[(q, i)] = sa.get((q, i), ma.get(q, 0.0)) + sb.get(
            (q, i), mb.get(q, 0.0)
        )
    return oracle


def test_merge_results_dict_oracle(spark):
    a_rows = [(0, 1, 1.0), (0, 2, 2.0), (1, 5, 1.5), (1, -1, float("-inf"))]
    b_rows = [(0, 2, 3.0), (0, 7, 0.5), (1, 5, 0.5)]
    a = spark.createDataFrame(a_rows, "query_id long, idx long, score double")
    b = spark.createDataFrame(b_rows, "query_id long, idx long, score double")
    merged = {(r["query_id"], r["idx"]): r["score"] for r in merge_results(a, b).collect()}
    assert merged == _merge_oracle(a_rows, b_rows)
    # the offset-by-min property concretely: q0 idx=1 is a-only, so it takes
    # b's min (0.5) on top of its own 1.0; idx=7 is b-only -> + a's min 1.0
    assert merged[(0, 1)] == 1.0 + 0.5
    assert merged[(0, 7)] == 0.5 + 1.0


def test_merge_results_mixed_sign_scales(spark):
    """An engine scoring in negatives cannot be out-ranked by absence: with
    raw sums, idx=9 (absent from b, a-score -0.1) would beat idx=2 (in both,
    b-score -3.0) only by accident; under offset-by-min both carry b-mass."""
    a_rows = [(0, 2, 1.0), (0, 9, 0.9)]
    b_rows = [(0, 2, -3.0), (0, 4, -0.5)]
    a = spark.createDataFrame(a_rows, "query_id long, idx long, score double")
    b = spark.createDataFrame(b_rows, "query_id long, idx long, score double")
    merged = {(r["query_id"], r["idx"]): r["score"] for r in merge_results(a, b).collect()}
    assert merged == _merge_oracle(a_rows, b_rows)
    assert merged[(0, 2)] == 1.0 + -3.0
    assert merged[(0, 9)] == 0.9 + -3.0  # absent from b -> b's min, not 0
    assert merged[(0, 4)] == 0.9 + -0.5  # absent from a -> a's min (0.9)


def test_topk_and_pad(spark):
    rows = [(0, 1, 3.0), (0, 2, 1.0), (0, 3, 2.0), (1, 9, 1.0)]
    res = spark.createDataFrame(rows, "query_id long, idx long, score double")
    top2 = {(r["query_id"], r["rank"]): r["idx"] for r in topk_results(res, 2).collect()}
    assert top2 == {(0, 1): 1, (0, 2): 3, (1, 1): 9}
    queries = spark.createDataFrame([(0,), (1,)], "query_id long")
    padded = pad_results(res, queries, 3).collect()
    assert len(padded) == 6
    q1 = sorted([r for r in padded if r["query_id"] == 1], key=lambda r: r["rank"])
    assert [r["idx"] for r in q1] == [9, -1, -1]
    assert q1[1]["score"] == float("-inf")


def test_results_to_arrays(spark):
    rows = [(0, 1, 3.0), (0, 3, 2.0)]
    res = spark.createDataFrame(rows, "query_id long, idx long, score double")
    arr = results_to_arrays(res, 2).collect()[0]
    assert arr["idx"] == [1, 3]
    assert arr["score"] == [3.0, 2.0]


def test_dense_vs_numpy_oracle(spark, vectors):
    corpus, df = vectors
    queries = df.filter(F.col("vec_id") < 10)
    out = BruteForceCosineTopK(corpus=df, k=5, exclude_self=True)(queries).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    normed = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    sims = normed @ normed.T
    for q in range(10):
        s = sims[q].copy()
        s[q] = -np.inf
        expect = list(np.argsort(-s)[:5])
        ranked = [n for _, n in sorted(got[q])]
        assert ranked == expect, f"query {q}: {ranked} != {expect}"


def test_dense_pandas_strategy_matches_join(spark, vectors):
    _, df = vectors
    queries = df.filter(F.col("vec_id") < 10)
    join_out = BruteForceCosineTopK(corpus=df, k=5, exclude_self=True)(queries)
    pd_out = BruteForceCosineTopK(corpus=df, k=5, exclude_self=True, strategy="pandas")(queries)
    j = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in join_out.collect()}
    p = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in pd_out.collect()}
    assert j == p


def test_dense_local_batch_matches_salted_plan(spark, vectors):
    """A local query batch reads its query count from the plan instead of
    probing it (no job while planning) and must give the probed plan's
    fan-out and exact rows, for both ``exclude_self`` values and for
    batches smaller (salted) and larger (plain repartition) than the
    shuffle width."""
    from warp_pipes_spark.ml.similarity import local_batch, local_rows

    _, df = vectors
    sc = spark.sparkContext
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def plan(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    for n in (3, width + 12):
        queries = df.filter(F.col("vec_id") < n)
        local = local_batch(queries)
        assert local.isLocal() and not queries.isLocal()
        assert local_rows(local) == n
        for exclude_self in (True, False):
            eng = BruteForceCosineTopK(corpus=df, k=5, exclude_self=exclude_self)
            want_df = eng(queries)
            want = sorted(map(tuple, want_df.collect()))
            group = f"dense-local-{n}-{exclude_self}"
            sc.setJobGroup(group, group)
            try:
                out = eng(local)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert not sc.statusTracker().getJobIdsForGroup(group)
            assert sorted(map(tuple, out.collect())) == want, (n, exclude_self)
            assert ("__salt" in plan(out)) == ("__salt" in plan(want_df)) == (n < width)


def test_lsh_recall_against_exact(spark, vectors):
    _, df = vectors
    queries = df.filter(F.col("vec_id") < 20)
    exact = BruteForceCosineTopK(corpus=df, k=1, exclude_self=True)(queries)
    approx = LshCosineTopK(corpus=df, k=5, dim=8, n_planes=4, n_tables=8, exclude_self=True)(queries)
    top1 = {r["query_id"]: r["neighbor_id"] for r in exact.collect()}
    cand = {}
    for r in approx.collect():
        cand.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in top1.items() if n in cand.get(q, set()))
    # probabilistic recall; 8 tables x 4 planes on 100 vecs should catch most
    assert hits >= 0.6 * len(top1), f"LSH recall too low: {hits}/{len(top1)}"


def test_group_lookup_round_trip(spark):
    corpus = spark.createDataFrame(
        [(i, i % 5) for i in range(50)], "row_id long, group_id long"
    )
    queries = spark.createDataFrame(
        [(100, 0), (101, 3), (102, 99)], "query_id long, group_id long"
    )
    engine = GroupLookupSearch(corpus=corpus, group_key="group_id", corpus_id="row_id")
    out = engine(queries).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # every returned idx has matching gid
    assert sorted(r["idx"] for r in by_q[100]) == [i for i in range(50) if i % 5 == 0]
    assert all(r["score"] == 0.0 for r in by_q[100])
    # missing group -> single (-1, -inf) row
    assert [(r["idx"], r["score"]) for r in by_q[102]] == [(-1, float("-inf"))]


def test_ivf_recall_against_exact(spark, vectors):
    from warp_pipes_spark.ml.similarity import IvfCosineTopK

    _, df = vectors
    queries = df.filter(F.col("vec_id") < 20)
    exact = BruteForceCosineTopK(corpus=df, k=1, exclude_self=True)(queries)
    approx = IvfCosineTopK(
        corpus=df, k=5, n_centroids=8, n_probe=3, exclude_self=True
    )(queries)
    top1 = {r["query_id"]: r["neighbor_id"] for r in exact.collect()}
    cand = {}
    for r in approx.collect():
        cand.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in top1.items() if n in cand.get(q, set()))
    # probing 3/8 cells must catch most true nearest neighbors
    assert hits >= 0.6 * len(top1), f"IVF recall too low: {hits}/{len(top1)}"


def test_ivf_local_trainer_matches_spark_trainer(spark, sf_dir):
    """The oracle's centroid literals are honest: the pure-Python replica
    (pyarrow + hashlib + numpy, no Spark) retrains BIT-IDENTICAL centroids
    from the raw Parquet — same md5 sample order, same seeded k-means."""
    import numpy as np

    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.ml.similarity import (
        IvfCosineTopK,
        train_ivf_centroids_local,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = IvfCosineTopK(
        corpus=emb, n_centroids=8, train_sample=200, kmeans_iters=5, seed=7,
        materialize_centroids=False, materialize_index=False,
    )
    C_spark = ivf._train_centroids()
    C_local = train_ivf_centroids_local(
        f"{sf_dir}/embeddings.parquet",
        n_centroids=8, train_sample=200, kmeans_iters=5, seed=7,
    )
    assert C_spark.shape == C_local.shape
    assert np.array_equal(C_spark, C_local), "trainers diverged (not bit-exact)"


def test_ivf_expr_and_blas_families_agree(spark, vectors):
    """Both cell-assignment kernels (JVM fold expressions vs pandas-BLAS)
    produce the same top-k on the same trained centroids."""
    from warp_pipes_spark.ml.similarity import IvfCosineTopK

    _, df = vectors
    queries = df.filter(F.col("vec_id") < 20)
    mk = lambda fam: IvfCosineTopK(  # noqa: E731
        corpus=df, k=5, n_centroids=8, n_probe=3, exclude_self=True,
        assign_family=fam, materialize_centroids=False, materialize_index=False,
    )(queries)
    rows = lambda out: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in out.collect()
    )
    assert rows(mk("expr")) == rows(mk("blas"))


def test_bm25_temperature_scales_scores(spark):
    from warp_pipes_spark.search.bm25 import Bm25Search

    docs = spark.createDataFrame(
        [(0, "apple banana cherry"), (1, "apple apple pie"), (2, "dog cat")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    base = {r["idx"]: float(r["score"]) for r in Bm25Search(corpus=docs, k=3)(q).collect()}
    halved = {
        r["idx"]: float(r["score"])
        for r in Bm25Search(corpus=docs, k=3, temperature=2.0)(q).collect()
    }
    assert base.keys() == halved.keys()
    for i in base:
        assert abs(halved[i] - base[i] / 2.0) < 1e-5


def test_bm25f_title_hits_outrank_body_hits(spark):
    """Same term frequency, but a hit in the 2x-weighted short title field
    must outscore a hit buried in a long body — the point of BM25F's
    pre-saturation field combination."""
    from warp_pipes_spark.search.bm25 import Bm25FSearch

    docs = spark.createDataFrame(
        [
            (0, "apple pie", "banana cherry fig grape kiwi lemon mango"),
            (1, "banana split", "apple cherry fig grape kiwi lemon mango"),
            (2, "dog house", "cat mouse bird fish snake toad newt"),
        ],
        "doc_id long, title string, body string",
    )
    q = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    out = Bm25FSearch(
        corpus=docs,
        fields={"title": 2.0, "body": 1.0},
        k=3,
        materialize_index=False,
    )(q).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["idx"] for r in ranked] == [0, 1]  # title hit first; doc 2 no hit
    assert ranked[0]["score"] > ranked[1]["score"]


def test_bm25f_empty_field_rows_still_scored(spark):
    """Docs with an empty field keep their other-field postings and the
    per-field avgdl still counts them (sentinel rows)."""
    from warp_pipes_spark.search.bm25 import Bm25FSearch

    docs = spark.createDataFrame(
        [(0, "", "apple pie crust"), (1, "apple tart", ""), (2, "dog", "cat")],
        "doc_id long, title string, body string",
    )
    q = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    out = Bm25FSearch(
        corpus=docs,
        fields={"title": 2.0, "body": 1.0},
        k=3,
        materialize_index=False,
    )(q).collect()
    assert {r["idx"] for r in out} == {0, 1}
    by_idx = {r["idx"]: r["score"] for r in out}
    assert by_idx[1] > by_idx[0]  # weighted title hit beats body hit


def test_pq_recall_against_exact(spark, vectors):
    from warp_pipes_spark.ml.quantize import PqCosineTopK

    _, df = vectors
    queries = df.filter(F.col("vec_id") < 20)
    exact = BruteForceCosineTopK(corpus=df, k=1, exclude_self=True)(queries)
    approx = PqCosineTopK(corpus=df, k=5, m=8, exclude_self=True)(queries)
    top1 = {r["query_id"]: r["neighbor_id"] for r in exact.collect()}
    cand = {}
    for r in approx.collect():
        cand.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in top1.items() if n in cand.get(q, set()))
    # 8-byte codes over 64 dims: the true top-1 should appear in the
    # PQ top-5 for the large majority of queries
    assert hits >= 0.7 * len(top1), f"PQ recall too low: {hits}/{len(top1)}"


def test_pq_tied_scores_resolve_by_neighbor_id_across_partitions(spark):
    """Regression for the per-batch partial top-k: candidates tied at the
    k-th ROUNDED score boundary must be resolved by (score DESC,
    neighbor_id ASC) — the same order the global window and the SQL
    oracle apply — not by argpartition's arbitrary tied-subset pick, and
    independently of how the corpus is partitioned into Arrow batches."""
    import numpy as np

    from warp_pipes_spark.ml.quantize import PqCosineTopK

    rng = np.random.RandomState(7)
    base = [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    rows = [(i, base) for i in range(50)]  # 50 duplicates: identical codes
    for i in range(50, 100):
        v = rng.randn(8)
        v[0] = 0.0  # orthogonal to the duplicates' direction
        rows.append((i, [float(x) for x in v]))
    queries = spark.createDataFrame([(200, base)], "vec_id long, embedding array<double>")

    results = []
    for nparts in (1, 13):
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).repartition(nparts)
        out = PqCosineTopK(
            corpus=corpus, k=5, m=4, exclude_self=False, materialize_index=False
        )(queries)
        results.append([(r["rank"], r["neighbor_id"]) for r in out.collect()])
    # among 50 bit-identically-scored duplicates, the 5 smallest ids win
    assert results[0] == [(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)]
    # and the answer is invariant to the corpus partition/batch layout
    assert results[0] == results[1]


def test_pq_codes_round_trip_determinism(spark, vectors):
    import numpy as np

    from warp_pipes_spark.ml.quantize import ProductQuantizer

    _, df = vectors
    dim = len(df.select("embedding").first()[0])
    pq = ProductQuantizer(dim, m=8, k=16, seed=3).fit(df)
    pq2 = ProductQuantizer(dim, m=8, k=16, seed=3).fit(df)
    assert np.allclose(pq.codebooks, pq2.codebooks)  # seeded determinism
    codes = df.select(pq.encode_udf()(F.col("embedding")).alias("c")).collect()
    assert all(len(r["c"]) == 8 for r in codes)
    assert all(0 <= v < 16 for r in codes for v in r["c"])


def test_bm25_champion_cap_truncates_index(spark, tmp_path):
    """champion_size keeps only the top-C postings per term (score desc,
    doc_id tiebreak), and with a cap wider than every posting list results
    equal the exact engine's."""
    from warp_pipes_spark.search.bm25 import Bm25Search

    rows = [(i, "common " + ("rare " if i == 0 else "word ") * 3) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eng = Bm25Search(
        corpus=docs, k=5, champion_size=4, index_cache_dir=str(tmp_path)
    )
    idx = eng._index()
    per_term = {
        r["term"]: r["n"]
        for r in idx.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(n <= 4 for n in per_term.values())
    assert per_term["common"] == 4  # 20 postings capped to 4

    q = spark.createDataFrame([(0, "rare word")], "query_id long, text string")
    wide = Bm25Search(
        corpus=docs, k=5, champion_size=1000, index_cache_dir=str(tmp_path)
    )
    exact = Bm25Search(corpus=docs, k=5, index_cache_dir=str(tmp_path))
    assert sorted(map(tuple, wide(q).collect())) == sorted(
        map(tuple, exact(q).collect())
    )


def test_bm25_champion_recall_against_exact(spark, tmp_path):
    """With a moderate cap, champion top-k recall vs the exact engine stays
    high on a realistic term mix (every doc reachable via its rarer terms)."""
    from warp_pipes_spark.search.bm25 import Bm25Search

    rng = np.random.RandomState(7)
    vocab = [f"t{j}" for j in range(50)]
    rows = []
    for i in range(120):
        toks = ["the"] + [vocab[rng.randint(50)] for _ in range(12)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(i, rows[i * 7][1].split()[1] + " " + rows[i * 7][1].split()[2])
         for i in range(10)],
        "query_id long, text string",
    )
    exact = Bm25Search(corpus=docs, k=5, index_cache_dir=str(tmp_path))(queries)
    champ = Bm25Search(
        corpus=docs, k=5, champion_size=16, index_cache_dir=str(tmp_path)
    )(queries)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["idx"])
    ch = {}
    for r in champ.collect():
        ch.setdefault(r["query_id"], set()).add(r["idx"])
    hits = sum(len(ex[q] & ch.get(q, set())) for q in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.8


def test_bm25_champion_rejects_bad_size(spark):
    from warp_pipes_spark.search.bm25 import Bm25Search

    docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        Bm25Search(corpus=docs, champion_size=0)


def test_matryoshka_equals_exact_with_full_prefilter(spark, vectors):
    """With prefilter_k >= corpus size the cascade cannot lose candidates:
    final ranking must equal the exact brute-force engine's."""
    from warp_pipes_spark.ml.similarity import MatryoshkaTopK

    _, vectors = vectors
    queries = vectors.filter(F.col("vec_id") % 10 == 0)
    exact = BruteForceCosineTopK(corpus=vectors, k=5, exclude_self=True)(queries)
    mat = MatryoshkaTopK(
        corpus=vectors, k=5, prefix_dim=8, prefilter_k=10_000, exclude_self=True
    )(queries)
    e = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in exact.collect())
    m = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in mat.collect())
    assert e == m


def test_matryoshka_recall_with_tight_prefilter(spark, vectors):
    from warp_pipes_spark.ml.similarity import MatryoshkaTopK

    _, vectors = vectors
    queries = vectors.filter(F.col("vec_id") % 10 == 0)
    exact = BruteForceCosineTopK(corpus=vectors, k=5, exclude_self=True)(queries)
    mat = MatryoshkaTopK(
        corpus=vectors, k=5, prefix_dim=16, prefilter_k=20, exclude_self=True
    )(queries)
    ex, ma = {}, {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in mat.collect():
        ma.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(ex[q] & ma.get(q, set())) for q in ex)
    assert hits / sum(len(v) for v in ex.values()) >= 0.6


def test_matryoshka_rejects_bad_params(spark):
    from warp_pipes_spark.ml.similarity import MatryoshkaTopK

    docs = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        MatryoshkaTopK(corpus=docs, k=10, prefilter_k=5)
    with pytest.raises(ValueError):
        MatryoshkaTopK(corpus=docs, prefix_dim=0)


def test_pool_embeddings_matches_numpy_mean(spark, vectors):
    """Pooled centroid equals the numpy mean within the 1e-9 floor
    quantization; n_vecs counts the group's rows."""
    from warp_pipes_spark.ml.pooling import PoolEmbeddings

    X, df = vectors
    lab = df.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    out = {r["label"]: r for r in PoolEmbeddings()(lab).collect()}
    ids = [r["vec_id"] for r in lab.select("vec_id").collect()]
    for g in (0, 1, 2):
        members = [i for i in ids if i % 3 == g]
        want = X[members].mean(axis=0)
        got = np.array(out[g]["pooled"])
        assert out[g]["n_vecs"] == len(members)
        assert np.max(np.abs(got - want)) < 2e-9


def test_pool_embeddings_ignores_null_vectors(spark):
    from warp_pipes_spark.ml.pooling import PoolEmbeddings

    df = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("a", None), ("b", None)],
        "label string, embedding array<double>",
    )
    rows = PoolEmbeddings()(df).collect()
    assert len(rows) == 1
    assert rows[0]["label"] == "a" and rows[0]["n_vecs"] == 1
    assert rows[0]["pooled"] == [1.0, 3.0]


def test_standardize_embeddings_matches_numpy(spark, vectors):
    """Standardized components match numpy z-scores of the 1e-9 quantized
    values (population std), within double rounding."""
    from warp_pipes_spark.ml.pooling import StandardizeEmbeddings

    X, df = vectors
    out = {r["vec_id"]: np.array(r["standardized"]) for r in
           StandardizeEmbeddings()(df).collect()}
    ids = sorted(out)
    Q = np.floor(X[ids] * 1e9) / 1e9
    mean = Q.mean(axis=0)
    std = Q.std(axis=0)  # population
    want = (Q - mean) / np.where(std == 0, 1.0, std)
    got = np.stack([out[i] for i in ids])
    assert np.max(np.abs(got - want)) < 1e-6
    # standardized corpus has ~zero mean and ~unit variance per component
    assert np.max(np.abs(got.mean(axis=0))) < 1e-6
    assert np.max(np.abs(got.std(axis=0) - 1.0)) < 1e-6


def test_standardize_constant_component_is_zero(spark):
    from warp_pipes_spark.ml.pooling import StandardizeEmbeddings

    df = spark.createDataFrame(
        [(0, [5.0, 1.0]), (1, [5.0, 3.0])], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r["standardized"] for r in
           StandardizeEmbeddings()(df).collect()}
    assert out[0][0] == 0.0 and out[1][0] == 0.0  # constant dim -> 0
    assert out[0][1] == -1.0 and out[1][1] == 1.0


def test_bm25_append_matches_from_scratch(spark, tmp_path):
    """Incremental index maintenance: append() over (old + new) equals a
    from-scratch engine over the concatenated corpus bit-for-bit — the
    idf/avgdl shift from new docs is fully re-baked, never stale."""
    from warp_pipes_spark.search.bm25 import Bm25Search

    old = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma") for i in range(30)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, f"alpha delta fresh{i}") for i in range(10)],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(0, "alpha delta"), (1, "beta gamma")], "query_id long, text string"
    )
    base = Bm25Search(corpus=old, k=5, index_cache_dir=str(tmp_path))
    base._index().count()  # build + cache the old raw postings
    appended = base.append(new)
    scratch = Bm25Search(
        corpus=old.unionByName(new), k=5, index_cache_dir=str(tmp_path / "other")
    )
    got = sorted(map(tuple, appended(q).collect()))
    want = sorted(map(tuple, scratch(q).collect()))
    assert got == want and len(got) > 0
    # new docs are retrievable through the appended engine
    assert any(r[2] >= 100 for r in got)


def test_bm25_append_skips_old_corpus_tokenization(spark, tmp_path, monkeypatch):
    """After the old raw postings are cached, append() tokenizes ONLY the
    new batch: build_inverted_index must be called with the new docs, not
    the old corpus or the union."""
    import warp_pipes_spark.search.bm25 as bm25_mod

    old = spark.createDataFrame(
        [(i, f"w{i} common") for i in range(20)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(50, "common fresh")], "doc_id long, text string"
    )
    eng = bm25_mod.Bm25Search(corpus=old, k=3, index_cache_dir=str(tmp_path))
    eng._index().count()

    seen = []
    real = bm25_mod.build_inverted_index

    def spy(corpus, id_col, text_col):
        seen.append(corpus.count())
        return real(corpus, id_col, text_col)

    monkeypatch.setattr(bm25_mod, "build_inverted_index", spy)
    appended = eng.append(new)
    appended._index().count()
    assert seen == [1]  # exactly one tokenization pass, over the 1 new doc


def test_rrf_fuse_matches_hand_oracle(spark):
    """rrf_fuse == per-doc sum of 1/(c+rank) across engines, top-k with idx
    tie-break; docs present in one list only still score."""
    from warp_pipes_spark.search.result import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (1, 3, 12)],
        "query_id long, rank int, idx long",
    )
    b = spark.createDataFrame(
        [(1, 1, 11), (1, 2, 13)],
        "query_id long, rank int, idx long",
    )
    out = {r["idx"]: r for r in rrf_fuse(a, b, c=60.0, k=3).collect()}
    from decimal import Decimal

    def rr(rank):
        return float(Decimal(repr(1.0 / (60.0 + rank))).quantize(Decimal("0.000001")))

    exp = {
        10: rr(1),
        11: rr(2) + rr(1),
        12: rr(3),
        13: rr(2),
    }
    top3 = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert sorted(out) == sorted(idx for idx, _ in top3)
    for rank_pos, (idx, score) in enumerate(
        sorted(top3, key=lambda kv: (-kv[1], kv[0])), start=1
    ):
        assert out[idx]["rank"] == rank_pos
        assert abs(out[idx]["rrf"] - score) < 1e-9


def test_index_rrf_merge_strategy(spark):
    """Index(merge_strategy='rrf') fuses a chained retriever pair by
    reciprocal rank instead of raw score sums — equal to composing the
    engines manually through rrf_fuse."""
    from warp_pipes_spark.core.pipe import Pipe
    from warp_pipes_spark.search.index import Index
    from warp_pipes_spark.search.result import rrf_fuse, topk_results

    class FixedResults(Pipe):
        def __init__(self, rows, **kw):
            super().__init__(**kw)
            self.rows = rows

        _no_fingerprint = ("rows",)

        def _transform(self, df, **kwargs):
            return df.sparkSession.createDataFrame(
                self.rows, "query_id long, idx long, score double"
            )

    # engine A scores 0-1 (cosine-like), engine B scores ~15 (BM25-like):
    # raw score-sum would let B dominate; rrf treats them as peers
    a = FixedResults([(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7)])
    b = FixedResults([(1, 11, 15.0), (1, 13, 9.0)])
    queries = spark.createDataFrame([(1,)], "query_id long")
    out = Index(
        corpus=queries, engines=[a, b], k=3,
        merge_previous_results=True, merge_strategy="rrf",
    )(queries)
    manual = topk_results(
        rrf_fuse(
            topk_results(a.transform(queries), 100),
            topk_results(b.transform(queries), 100),
            c=60.0, k=100,
        ).withColumnRenamed("rrf", "score").drop("rank"),
        3,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, manual.collect()))
    # doc 11 (ranked by both engines) must fuse to the top
    assert out.orderBy("rank").first()["idx"] == 11

    def windows(df):
        import re

        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(r"\bWindow \[", plan))

    # the last fusion ranks straight to k: no top-k window after it
    assert windows(out) == 3

    class RankedFixed(FixedResults):
        """An engine that ranks its own output (score desc, idx asc)."""

        def __init__(self, rows, k, **kw):
            super().__init__(rows, **kw)
            self.k = k

        def _transform(self, df, **kwargs):
            return topk_results(super()._transform(df, **kwargs), self.k)

    ra = RankedFixed([(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7), (2, 12, 0.5),
                      (2, 10, 0.5), (1, 14, 0.1)], k=3)
    rb = RankedFixed([(1, 11, 15.0), (1, 13, 9.0), (2, 13, 1.0), (2, 12, 2.0)],
                     k=2)
    c = FixedResults([(1, 13, 3.0), (1, 10, 1.0), (2, 10, 4.0), (2, 11, 4.0)])
    queries2 = spark.createDataFrame([(1,), (2,)], "query_id long")

    def rrf_ref(*sides, k):
        # the re-ranking composition: every side through topk_results
        return rrf_fuse(*[topk_results(x, 3) for x in sides], c=60.0, k=k)\
            .select("query_id", "idx", F.col("rrf").alias("score"))

    for k in (2, 5):
        out = Index(
            corpus=queries2, engines=[ra, rb, c], k=k, rrf_depth=3,
            merge_previous_results=True, merge_strategy="rrf",
        )(queries2)
        manual = topk_results(
            rrf_ref(
                rrf_ref(ra.transform(queries2), rb.transform(queries2), k=3),
                c.transform(queries2),
                k=3,
            ),
            k,
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, manual.collect())
        ), k
        assert out.columns == manual.columns
        # ra's and rb's own windows, c's depth cut, two fusions — the
        # ranked sides and the fused prefix are not re-ranked
        assert windows(out) == 5, k


def test_pq_local_trainer_matches_spark_trainer(spark, sf_dir):
    """q95's codebook literals are honest: the pure-Python replica retrains
    BIT-IDENTICAL per-subspace codebooks from the raw Parquet."""
    import numpy as np

    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.ml.quantize import ProductQuantizer, train_pq_local

    emb = load_table(spark, sf_dir, "embeddings")
    pq = ProductQuantizer(dim=64, m=8, k=16, iters=5, seed=9).fit(
        emb, train_sample=100
    )
    local = train_pq_local(
        f"{sf_dir}/embeddings.parquet", dim=64, m=8, k=16, iters=5, seed=9,
        train_sample=100,
    )
    assert pq.codebooks.shape == local.shape
    assert np.array_equal(pq.codebooks, local), "PQ trainers diverged"


def test_lsh_near_dup_gate_finds_planted_duplicates(spark):
    """The admission gate finds a planted near-duplicate of a corpus
    vector (cosine ~0.99 collides in every LSH table) and emits pairs as
    NEW x CORPUS only."""
    import numpy as np

    from warp_pipes_spark.ml.similarity import LshCosineNearDup

    rng = np.random.RandomState(5)
    base = rng.randn(50, 16)
    corpus_rows = [(i, [float(x) for x in base[i]]) for i in range(50)]
    near = base[7] + 0.02 * rng.randn(16)  # ~ corpus vector 7
    new_rows = [
        (100, [float(x) for x in near]),
        (101, [float(x) for x in rng.randn(16)]),
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")
    out = LshCosineNearDup(
        corpus=corpus, threshold=0.9, dim=16, n_planes=4, n_tables=8,
        materialize_index=False,
    )(new).collect()
    pairs = {(r["new_id"], r["corpus_id"]) for r in out}
    assert (100, 7) in pairs
    assert all(n in (100, 101) and c < 100 for n, c in pairs)
    assert all(r["score"] >= 0.9 for r in out)


def test_prf_expansion_effect_and_shape(spark, sf_dir):
    """PRF must change at least one query's result set vs plain BM25
    (the expansion has an effect), keep the Bm25Search output contract
    (ranks 1..k contiguous per query), and be deterministic. (No
    seed-retention assertion: the synthetic corpus' tiny shared
    vocabulary makes 5-token queries non-discriminative even unexpanded
    — plain BM25 retrieves its seed for only ~25% of queries.)"""
    from collections import defaultdict

    from warp_pipes_spark.queries import _bm25_queries
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.search.bm25 import Bm25Search
    from warp_pipes_spark.search.prf import PrfBm25Search

    docs = load_table(spark, sf_dir, "documents")
    qs = _bm25_queries(spark, sf_dir)
    plain = Bm25Search(corpus=docs, k=10)(qs)
    prf = PrfBm25Search(corpus=docs, k=10, fb_k=5, fb_terms=3)
    p = {(r["query_id"], r["idx"]) for r in plain.collect()}
    e_rows = prf(qs).collect()
    e = {(r["query_id"], r["idx"]) for r in e_rows}
    assert e != p, "expansion had no effect on any query"
    ranks = defaultdict(list)
    for r in e_rows:
        ranks[r["query_id"]].append(r["rank"])
    for q, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1)), (q, rs)
        assert len(rs) <= 10
    e2 = {(r["query_id"], r["idx"]) for r in prf(qs).collect()}
    assert e2 == e


def test_ann_recall_sweep_monotone(spark, sf_dir):
    """More LSH tables can only add candidates, so recall@5 must be
    non-decreasing in n_tables and the counts internally consistent."""
    from warp_pipes_spark.queries import q182_ann_recall_sweep

    rows = sorted(
        q182_ann_recall_sweep(spark, sf_dir).collect(),
        key=lambda r: r["n_tables"],
    )
    assert [r["n_tables"] for r in rows] == [2, 4, 8]
    recalls = [r["recall_at_5"] for r in rows]
    assert recalls == sorted(recalls), recalls
    for r in rows:
        assert 0 <= r["n_matched"] <= r["n_exact"]
    # no absolute bar: at tiny sf the 2^8 buckets dwarf the corpus so
    # collisions (hence recall) are scarce — the sweep's JOB is to show
    # exactly this; just require the extra tables to actually help
    assert recalls[-1] > recalls[0], recalls


def test_bm25_threshold_prune_is_lossless(spark, sf_dir, tmp_path):
    """The seed-threshold prune (maxscore=True, the default) must return
    BIT-IDENTICAL results to the exhaustive plan for every k, including
    k=1 and k past the match count — it is a physical optimization, not a
    semantics change. Covers both physical strategies: the doc-major
    branch (dense vocabulary — what this corpus exercises) and the
    term-major fallback (forced via a one-query batch, whose fan-out
    estimate stays below the index size), and both theta sites: Spark
    (unmaterialized index) and the driver (materialized index), over
    distributed and local batches."""
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.ml.similarity import local_batch
    from warp_pipes_spark.search.bm25 import Bm25Search

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 10, 40).alias("text"),
    )
    one_query = queries.limit(1)
    for k in (1, 5, 23):
        for batch in (queries, one_query, local_batch(queries)):
            slow = Bm25Search(
                corpus=docs, k=k, maxscore=False, materialize_index=False
            )(batch)
            want = sorted(map(tuple, slow.collect()))
            for materialize in (False, True):
                fast = Bm25Search(
                    corpus=docs, k=k, maxscore=True,
                    materialize_index=materialize,
                    index_cache_dir=str(tmp_path / "bm25"),
                )(batch)
                assert sorted(map(tuple, fast.collect())) == want, (
                    f"prune changed results at k={k}, "
                    f"materialize_index={materialize}"
                )


def test_bm25_threshold_prune_lossless_on_variants(spark, sf_dir, tmp_path):
    """Round-6 extension: the prune must stay BIT-IDENTICAL on the
    aux-boosted (fixed and log-length-scaled weights), term-filtered,
    champion-capped and BM25F paths — each previously excluded from
    `_maxscore_eligible`. k sweeps below and past the match count. The
    materialized engines over a local batch feed the once-collected term
    rows (both legs, filter values) to the Spark-side theta."""
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.ml.similarity import local_batch
    from warp_pipes_spark.search.bm25 import Bm25FSearch, Bm25Search
    from warp_pipes_spark.text.analysis import tokens_expr

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    toks = tokens_expr(F.col("text"))
    queries = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("text"),
        F.array_join(F.slice(toks, 6, 3), " ").alias("aux"),
        F.col("lang").alias("qlang"),
    )
    configs = {
        "aux": dict(aux_text_col="aux", aux_weight=0.5),
        "aux_scaled": dict(
            aux_text_col="aux", aux_weight=0.75, scale_aux_weight=True
        ),
        "filtered": dict(filter_key="qlang", corpus_filter_key="lang"),
        "aux_filtered": dict(
            aux_text_col="aux",
            aux_weight=0.5,
            filter_key="qlang",
            corpus_filter_key="lang",
        ),
    }
    for label, kw in configs.items():
        for k in (1, 7):
            fast = Bm25Search(
                corpus=docs, k=k, maxscore=True,
                materialize_index=False, **kw,
            )
            assert fast._maxscore_eligible(), label
            slow = Bm25Search(
                corpus=docs, k=k, maxscore=False,
                materialize_index=False, **kw,
            )
            want = sorted(map(tuple, slow(queries).collect()))
            assert sorted(map(tuple, fast(queries).collect())) == want, (
                f"prune changed results for {label} at k={k}"
            )
            materialized = Bm25Search(
                corpus=docs, k=k, index_cache_dir=str(tmp_path / "bm25"), **kw
            )
            assert sorted(
                map(tuple, materialized(local_batch(queries)).collect())
            ) == want, f"local term rows changed results for {label} at k={k}"

    # BM25F (two weighted fields, per-field length norm)
    corpus_f = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 6), " ").alias("title"),
        F.array_join(
            F.slice(toks, 7, F.greatest(F.size(toks), F.lit(1))), " "
        ).alias("body"),
    )
    for k in (1, 7):
        fast = Bm25FSearch(
            corpus=corpus_f, fields={"title": 2.0, "body": 1.0}, k=k,
            maxscore=True, materialize_index=False,
        )
        assert fast._maxscore_eligible()
        slow = Bm25FSearch(
            corpus=corpus_f, fields={"title": 2.0, "body": 1.0}, k=k,
            maxscore=False, materialize_index=False,
        )
        assert sorted(map(tuple, fast(queries).collect())) == sorted(
            map(tuple, slow(queries).collect())
        ), f"prune changed BM25F results at k={k}"


def test_bm25_driver_theta_matches_spark_theta_and_oracle(spark, tmp_path):
    """The single-leg MaxScore threshold computed on the driver (from the
    pyarrow-read seed lists and the once-collected term rows) must equal
    the Spark-side seed join + window exactly, and the pruned results
    must equal maxscore=False and the DuckDB oracle, on local and
    distributed batches. Inputs cover fewer than k seed candidates,
    unknown terms, empty and NULL text, repeated terms, ties at the k-th
    partial (identical documents), k past the match count, an appended
    engine, and QL's reuse of `_fan_est`."""
    import duckdb
    from pyspark.sql import Window
    from pyspark.sql.types import LongType

    from warp_pipes_spark.ml.similarity import local_batch
    from warp_pipes_spark.pipes.cache import _load_memo
    from warp_pipes_spark.search.bm25 import Bm25Search, bm25_oracle_sql
    from warp_pipes_spark.search.ql import DirichletQLSearch

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = [(i, " ".join(words[j % 8] for j in range(i % 5, i % 5 + 2 + i % 4)))
            for i in range(40)]
    # identical documents tie at every partial; one rare term
    rows += [(40 + i, "alpha beta beta gamma") for i in range(6)]
    rows += [(50, "rareword alpha"), (51, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qrows = [
        (1, "alpha beta"),
        (2, "rareword"),  # one seed candidate: theta NULL for k > 1
        (3, "zzz_unknown beta"),
        (4, ""),
        (5, None),
        (6, "beta beta gamma gamma"),
        (7, "alpha beta gamma delta eps zeta eta theta"),
        (8, "zzz_unknown"),
    ]
    queries = spark.createDataFrame(qrows, "query_id long, text string")
    local = local_batch(queries)
    assert local.isLocal() and not queries.isLocal()

    con = duckdb.connect()
    con.register("corpus_t", docs.toPandas())
    con.register("q_t", queries.toPandas())

    def key(df):
        return sorted(map(tuple, df.collect()))

    cache = str(tmp_path / "bm25")
    for k in (1, 3, 7, 60):
        eng = Bm25Search(corpus=docs, k=k, index_cache_dir=cache)
        exact = key(Bm25Search(corpus=docs, k=k, maxscore=False,
                               index_cache_dir=cache)(queries))
        oracle = sorted(
            (q, r, i, s) for q, r, i, s in con.execute(
                bm25_oracle_sql("corpus_t", "SELECT query_id, text AS qtext FROM q_t", k=k)
            ).fetchall()
        )
        assert exact == oracle, k
        for batch in (local, queries):
            assert key(eng(batch)) == exact, (k, batch.isLocal())
        # theta itself: driver dict sums == Spark seed join + window
        assert eng._seed_lists() is not None
        legs, frame = eng._local_query_legs(local)
        assert key(frame) == key(eng._query_legs(queries))
        driver = key(eng._driver_theta(legs, LongType(), spark))
        seed = eng._seed_table(eng._index())
        partial = (
            eng._query_legs(queries).join(seed, "term")
            .groupBy("query_id", "doc_id").agg(F.sum("ts").alias("ps"))
        )
        wk = Window.partitionBy("query_id").orderBy(F.desc("ps"), F.asc("doc_id"))
        spark_theta = key(
            partial.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") == k).select("query_id", "ps")
        )
        assert driver == spark_theta, k
        assert driver or k == 60
        # the Spark-side theta (vocabulary over the driver cap) agrees
        eng._TERMDF_MAP_MAX_ROWS = 0
        _load_memo.clear()
        assert eng._termdf_map() is None and eng._seed_lists() is None
        assert key(eng(local)) == exact
        _load_memo.clear()

    # appended engine: re-baked index, fresh seed artifact, same answer
    extra = spark.createDataFrame(
        [(100, "alpha rareword rareword"), (101, "gamma gamma delta")],
        "doc_id long, text string",
    )
    appended = Bm25Search(corpus=docs, k=3, index_cache_dir=cache).append(extra)
    scratch = Bm25Search(corpus=docs.unionByName(extra), k=3, maxscore=False,
                         index_cache_dir=cache)
    assert key(appended(local)) == key(scratch(queries))
    assert appended._seed_lists() is not None

    # QL reuses Bm25Search._fan_est over its own term rows
    for batch in (local, queries):
        ql = DirichletQLSearch(corpus=docs, k=3, index_cache_dir=cache)
        ql_exact = DirichletQLSearch(corpus=docs, k=3, prune=False,
                                     index_cache_dir=cache)
        assert key(ql(batch)) == key(ql_exact(queries))


def test_bm25_prune_ineligible_configs_fall_back(spark, sf_dir):
    """Configs that break the non-negative-contribution argument must NOT
    take the pruned path: negative raw aux weight, temperature != 1,
    b outside [0,1], negative BM25F field weight. Champion-capped engines
    are also excluded — correct but measured slower (the cap already
    bounds the window input)."""
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.search.bm25 import Bm25FSearch, Bm25Search

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert not Bm25Search(
        corpus=docs, aux_text_col="aux", aux_weight=-0.5
    )._maxscore_eligible()
    assert not Bm25Search(corpus=docs, temperature=2.0)._maxscore_eligible()
    assert not Bm25Search(corpus=docs, b=1.5)._maxscore_eligible()
    assert not Bm25Search(corpus=docs, champion_size=8)._maxscore_eligible()
    assert not Bm25FSearch(
        corpus=docs, fields={"text": -1.0}
    )._maxscore_eligible()
    # scaled aux weights are >= 0 by construction, so a negative raw
    # aux_weight stays eligible when scaling is on
    assert Bm25Search(
        corpus=docs, aux_text_col="aux", aux_weight=-0.5,
        scale_aux_weight=True,
    )._maxscore_eligible()
