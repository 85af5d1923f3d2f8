"""Similarity search over embedding columns (``array<float>``).

North-star extension operators:

- **BruteForceCosineTopK** — exact top-k neighbors; the correctness
  baseline. Two physical strategies:
  (a) ``strategy='join'``: query⨝corpus cross-join + window top-k, pure
      DataFrame; right shape for moderate corpus × query products and the
      DuckDB oracle. The corpus is broadcast and the query side spread
      over the shuffle width (``salted_query_fanout``); the query count
      that sizes the spread is probed with a job for a distributed query
      side (kNN self-joins over a table) and read from the plan for a
      LOCAL batch (``local_batch`` — ``Index`` and ``cached_results``
      make every bounded batch one). (Streaming the corpus past a broadcast local batch instead
      scores in the corpus's own partitions — one task for a corpus in one
      file: 2-3x slower in wall time at 256-2,048 queries, 4 cores.)
  (b) ``strategy='pandas'``: Arrow-batched BLAS — the corpus STREAMS
      through executors (never collected/broadcast), the bounded query
      batch is the broadcast side; per-batch top-k partials merge through
      one global window (the reference's torch engine chunks its index the
      same way, ``warp_pipes/search/vector_base/torch.py:42-50``). Scales
      to any corpus size.
- **LshCosineTopK** — random-hyperplane LSH bucketing: only pairs sharing a
  hyperplane-sign bucket are scored, then exact re-rank. Sub-quadratic; the
  100 TB path where brute force is impossible.
- **CosinePairs** — embedding near-dup: all pairs with cosine >= threshold.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warp_pipes_spark.core.pipe import Pipe


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


# above this dim the unrolled expression tree stops paying: the generated
# method outgrows the JIT's inlining budget and Spark falls back to
# interpreted evaluation of a 2*dim-node tree per pair, measured ~12x
# SLOWER than the HOF fold at dim=64 on sf1 (the HOF loop is one
# interpreted lambda over a primitive array). dim<=16 measured faster
# (dim=8: ~2x on the isolated cross-join stage).
UNROLL_MAX_DIM = 16


def _dot_unrolled(a, b, dim: int):
    """``_dot`` with the dimension known at plan time: the identical
    left-fold ((0 + a1*b1) + a2*b2) + ... as FLAT scalar arithmetic.
    Bit-identical to ``_dot`` (same op order), but whole-stage-codegen
    compiles it — Spark's higher-order functions (zip_with/aggregate)
    are interpreted per row, which is the dominant cost when the dot
    runs once per PAIR of a brute-force cross join. Only a win for
    small dims — see UNROLL_MAX_DIM."""
    expr = F.lit(0.0).cast("double")
    for i in range(1, dim + 1):
        expr = expr + F.element_at(a, i) * F.element_at(b, i)
    return expr


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )


# default bound on a query batch the driver holds (collects, broadcasts
# or turns into a LocalRelation); engines take it as ``max_query_rows``
MAX_QUERY_ROWS = 100_000


def local_batch(df: DataFrame) -> DataFrame:
    """A bounded query batch as an Arrow-backed ``LocalRelation``: ONE
    ``limit(MAX_QUERY_ROWS + 1).toArrow()`` job brings it to the driver,
    and every engine that then plans over it reads per-batch inputs (term
    rows, the query count) from the plan itself — no probe jobs, no
    re-read of the source. Returned unchanged when it is already local,
    has a column Arrow cannot carry, or holds more than
    ``MAX_QUERY_ROWS`` rows: it then stays a distributed input, engines
    keep their distributed plans, and the fetched rows are dropped (the
    fetch costs at most one bounded scan of the batch on top of the
    query). Same rows and Spark types either way."""
    if df.isLocal():
        return df
    from pyspark.sql.pandas.types import to_arrow_schema

    try:
        to_arrow_schema(df.schema)
    except TypeError:  # a column type with no Arrow mapping
        return df
    table = df.limit(MAX_QUERY_ROWS + 1).toArrow()
    if table.num_rows > MAX_QUERY_ROWS:
        return df
    return df.sparkSession.createDataFrame(table, schema=df.schema)


def collect_bounded(df: DataFrame, max_rows: int, what: str) -> list:
    """Enforce the bounded-query-batch contract BEFORE collecting: the
    pandas-BLAS and PQ query paths broadcast the query matrix, which is
    only sane for a bounded batch. The guard is a ``limit(max+1).count()``
    probe (cheap — the scan stops at max_rows + 1), so a caller pointing a
    corpus-sized table at the query side gets a clear error instead of a
    driver OOM mid-collect."""
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{what}: query batch exceeds max_query_rows={max_rows} "
            f"(got > {max_rows} rows). The query side is collected and "
            "broadcast — point the CORPUS at the big table, or raise "
            "max_query_rows explicitly if the driver can hold the batch."
        )
    return df.collect()


def cosine_expr(a, b):
    """Cosine similarity of two array<double> columns, computed as a
    left-to-right fold (deterministic summation order → oracle-exact)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def local_rows(df: DataFrame) -> int:
    """Row count of a driver-local frame (``df.isLocal()``), read from its
    plan: no job."""
    return df._jdf.queryExecution().analyzed().maxRows().get()


def salted_query_fanout(
    q: DataFrame, n_shuffle: int, key: str = "query_id", n_q: Optional[int] = None
) -> tuple:
    """Decide-before-shuffle parallelism pin for broadcast-corpus
    scoring joins. Returns ``(q', salt_width)``.

    Hash-partitioning the query side by ``key`` alone caps scoring
    parallelism at the number of DISTINCT queries: a production-shaped
    batch with fewer queries than cores serializes each query's full
    corpus scan onto one task. A cheap ``limit(n_shuffle).count()``
    probe (the scan stops early; ``key`` is an id column, so row count
    is key count) decides BEFORE the shuffle:

    * enough queries → plain ``repartition(n_shuffle, key)`` (salt
      would only multiply shuffle bytes and window groups);
    * fewer queries → each query row is replicated over ``S =
      ceil(n_shuffle / n_q)`` salt buckets and repartitioned on
      ``(key, __salt)``; the caller joins the broadcast corpus on
      ``__salt = pmod(hash(corpus_id), S)`` so every corpus row is
      scored exactly once and one query's scan spreads over S tasks.

    Either way each (query, salt) pair block stays within one task, so
    the rank window's partial top-k (WindowGroupLimit) still prunes
    map-side before the final by-query shuffle. A caller that already
    knows the query count passes it as ``n_q`` and skips the probe."""
    if n_q is None:
        n_q = q.limit(n_shuffle).count()
    if n_q >= n_shuffle:
        return q.repartition(n_shuffle, key), 0
    s = max(1, -(-n_shuffle // max(n_q, 1)))
    qs = q.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(s)]))
    ).repartition(n_shuffle, key, "__salt")
    return qs, s


class BruteForceCosineTopK(Pipe):
    """Exact cosine top-k: for each query row return the k nearest corpus
    rows. Input df = queries; ``corpus`` df given at construction."""

    def __init__(
        self,
        corpus: DataFrame,
        k: int = 10,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
        exclude_self: bool = True,
        strategy: str = "join",
        max_query_rows: int = MAX_QUERY_ROWS,
        dim: Optional[int] = None,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.corpus = corpus
        self.k = k
        self.query_id = query_id
        self.query_vec = query_vec
        self.corpus_id = corpus_id
        self.corpus_vec = corpus_vec
        self.exclude_self = exclude_self
        self.strategy = strategy
        self.max_query_rows = max_query_rows
        # when the vector dimension is known at plan time AND small
        # (<= UNROLL_MAX_DIM), the per-pair dot unrolls to flat codegen'd
        # arithmetic (bit-identical fold order — see _dot_unrolled);
        # None or a large dim keeps the generic HOF fold, so callers can
        # pass dim unconditionally
        self.dim = dim

    _no_fingerprint = ("corpus",)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        if self.strategy == "pandas":
            return self._transform_pandas(df)
        # norms precomputed per ROW, not per pair — numerically identical
        # (same fold order / sqrt / multiply / divide) but 1/3 of the
        # join-side flops; the query side is repartitioned BY KEY because
        # the cross-join's pair explosion inherits its partitioning — and
        # a width estimate from scan metadata is not enough: a selective
        # query filter (vec_id < N) leaves every surviving row in the one
        # or two splits that held that key range, serializing the scoring
        # (measured 34 s vs 9 s at the 30x soak). Explicit numPartitions
        # so AQE can't coalesce it on input bytes; each query's pair
        # block stays in one task so WindowGroupLimit still prunes
        # map-side. A LOCAL batch (``local_batch``) carries its row
        # count in its plan: no probe job.
        n_shuffle = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        q, salt = salted_query_fanout(
            df.select(
                F.col(self.query_id).alias("query_id"),
                F.col(self.query_vec).cast("array<double>").alias("qv"),
            ),
            n_shuffle,
            n_q=local_rows(df) if df.isLocal() else None,
        )
        q = q.withColumn("qn", _norm(F.col("qv")))
        c = self.corpus.select(
            F.col(self.corpus_id).alias("neighbor_id"),
            F.col(self.corpus_vec).cast("array<double>").alias("cv"),
        ).withColumn("cn", _norm(F.col("cv")))
        if salt:
            c = c.withColumn(
                "__csalt", F.pmod(F.hash("neighbor_id"), F.lit(salt))
            )
            pairs = q.join(
                F.broadcast(c), F.col("__salt") == F.col("__csalt")
            ).drop("__salt", "__csalt")
        else:
            pairs = q.crossJoin(F.broadcast(c))
        if self.exclude_self:
            pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
        dot = (
            _dot_unrolled(F.col("qv"), F.col("cv"), self.dim)
            if self.dim and self.dim <= UNROLL_MAX_DIM
            else _dot(F.col("qv"), F.col("cv"))
        )
        score = dot / (F.col("qn") * F.col("cn"))
        scored = pairs.select(
            "query_id",
            "neighbor_id",
            score.cast("decimal(18,6)").alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id")
        )
        # rank on the DECIMAL-rounded score (engine-agnostic order), emit
        # DOUBLE so both engines hand the driver the same float64
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select(
                "query_id",
                "rank",
                "neighbor_id",
                F.col("score").cast("double").alias("score"),
            )
        )

    def _transform_pandas(self, df: DataFrame) -> DataFrame:
        """BLAS path: the CORPUS streams through executors partition by
        partition (never collected — the reference's torch engine shape,
        ``warp_pipes/search/vector_base/torch.py:42-50``, chunks the index
        the same way); the bounded QUERY batch is the broadcast side. Each
        Arrow batch computes Q @ C_batch.T and emits its local top-k per
        query; a global window merges the partials — exact, because
        per-batch selection uses the same (score desc, id asc) order as the
        merge. Scales to any corpus size: executor memory holds one corpus
        batch + the query matrix, shuffle carries <= k rows per (query,
        batch)."""
        import pandas as pd

        q_rows = collect_bounded(
            df.select(
                F.col(self.query_id).alias("query_id"),
                F.col(self.query_vec).cast("array<double>").alias("qv"),
            ),
            self.max_query_rows,
            "BruteForceCosineTopK(strategy='pandas')",
        )
        qids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
        qmat = np.array([r["qv"] for r in q_rows], dtype=np.float64)
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        spark = df.sparkSession
        b_qids = spark.sparkContext.broadcast(qids)
        b_qmat = spark.sparkContext.broadcast(qmat)
        k = self.k
        exclude_self = self.exclude_self

        c = self.corpus.select(
            F.col(self.corpus_id).alias("neighbor_id"),
            F.col(self.corpus_vec).cast("array<double>").alias("cv"),
        )

        def topk_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            qi = b_qids.value
            qm = b_qmat.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
                cmat = np.stack(pdf["cv"].to_numpy())
                cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
                scores = qm @ cmat.T  # [nq, nc_batch]
                if exclude_self:
                    scores[qi[:, None] == cids[None, :]] = -np.inf
                kk = min(k, scores.shape[1])
                part = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
                out = []
                for i in range(len(qi)):
                    cand = part[i]
                    order = np.lexsort((cids[cand], -scores[i, cand]))
                    sel = cand[order]
                    keep = scores[i, sel] > -np.inf
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qi[i],
                                "neighbor_id": cids[sel][keep],
                                "score": scores[i, sel][keep],
                            }
                        )
                    )
                yield pd.concat(out, ignore_index=True)

        partials = c.mapInPandas(
            topk_batches, schema="query_id long, neighbor_id long, score double"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id")
        )
        return (
            partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select("query_id", "rank", "neighbor_id", "score")
        )


class LshCosineTopK(Pipe):
    """Random-hyperplane LSH: bucket = sign bits of ``n_planes`` random
    projections (seeded, deterministic); candidates share a bucket in at
    least one of ``n_tables`` tables; exact cosine re-rank of candidates.
    Approximate recall, exact precision on returned scores."""

    def __init__(
        self,
        corpus: DataFrame,
        k: int = 10,
        n_planes: int = 8,
        n_tables: int = 4,
        dim: int = 64,
        seed: int = 42,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
        exclude_self: bool = True,
        broadcast_queries: bool = True,
        index_cache_dir: Optional[str] = None,
        materialize_index: bool = True,
        plane_family: str = "randn",
        **kwargs,
    ):
        if plane_family not in ("randn", "md5"):
            raise ValueError(f"plane_family must be 'randn' or 'md5', got {plane_family!r}")
        super().__init__(**kwargs)
        self.corpus = corpus
        self.k = k
        self.n_planes = n_planes
        self.n_tables = n_tables
        self.dim = dim
        self.seed = seed
        # 'randn': seeded gaussian hyperplanes (rotation-invariant bucket
        # quality — the textbook choice). 'md5': uniform [-0.5, 0.5)
        # fixed-point components derived per (seed, table, plane, dim) from
        # md5 — negligibly different bucket statistics, but reproducible in
        # plain SQL, which makes the WHOLE candidate-generation + re-rank
        # pipeline differentially testable against a DuckDB oracle
        self.plane_family = plane_family
        self.broadcast_queries = broadcast_queries
        self.query_id = query_id
        self.query_vec = query_vec
        self.corpus_id = corpus_id
        self.corpus_vec = corpus_vec
        self.exclude_self = exclude_self
        self.index_cache_dir = index_cache_dir
        self.materialize_index = materialize_index

    _no_fingerprint = ("corpus", "index_cache_dir")

    def _corpus_buckets(self, ce_src: DataFrame) -> DataFrame:
        """(neighbor_id, table_id, bucket) — the LSH hash tables, served
        from a fingerprint-keyed Parquet cache (same index-once-query-many
        contract as the BM25 postings / IVF lists / PQ codes). Hashing the
        corpus is the per-call expensive pass; the cached table is 3 ints
        per (vector, table) regardless of embedding width."""
        bucket_udf = self._bucket_udf()
        ce = ce_src.select(
            "neighbor_id",
            F.posexplode(bucket_udf(F.col("cv"))).alias("table_id", "bucket"),
        )
        if not self.materialize_index:
            return ce
        import os
        import tempfile

        from warp_pipes_spark.core.fingerprint import (
            fingerprint_dataframe,
            get_fingerprint,
        )
        from warp_pipes_spark.pipes.cache import CacheManager

        manager = CacheManager(
            self.index_cache_dir
            or os.path.join(tempfile.gettempdir(), "warp_pipes_spark_lsh_index")
        )
        fp = get_fingerprint(
            {
                "op": "lsh_index_v1",
                "corpus": fingerprint_dataframe(self.corpus),
                "vec": self.corpus_vec,
                "id": self.corpus_id,
                "n_planes": self.n_planes,
                "n_tables": self.n_tables,
                "dim": self.dim,
                "seed": self.seed,
                "plane_family": self.plane_family,
            }
        )
        # a cold call publishes the tables before it queries them (from
        # the published artifact); a failed write raises
        return manager.get_or_compute(self.corpus.sparkSession, fp, lambda: ce)

    def _planes(self) -> np.ndarray:
        if self.plane_family == "md5":
            import hashlib

            def u(t, p, d):
                h = hashlib.md5(f"{self.seed}:{t}:{p}:{d}".encode()).hexdigest()
                return int(h[:12], 16) / 281474976710656.0 - 0.5

            return np.array(
                [
                    [[u(t, p, d) for d in range(self.dim)] for p in range(self.n_planes)]
                    for t in range(self.n_tables)
                ],
                dtype=np.float64,
            )
        rng = np.random.RandomState(self.seed)
        return rng.randn(self.n_tables, self.n_planes, self.dim)

    def _bucket_udf(self):
        """Vectorized bucket codes: numpy matmul over Arrow batches. Spark's
        higher-order array functions are interpreted (no codegen), so the
        n_tables*n_planes fold-dot-products per row are ~100x slower than one
        BLAS matmul; sign-of-projection semantics are identical up to
        measure-zero boundary cases (proj == 0.0 exactly)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        planes = self._planes()  # [tables, planes, dim]
        shifts = 1 << np.arange(planes.shape[1], dtype=np.int64)

        def buckets(vecs):
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            V = np.stack(vecs.to_numpy()).astype(np.float64)  # [n, dim]
            codes = np.stack(
                [((V @ p.T) > 0) @ shifts for p in planes], axis=1
            )  # [n, tables]
            return pd.Series(list(codes))

        # real annotation objects: `from __future__ import annotations` would
        # stringify inline hints, which pandas_udf cannot resolve here
        buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        return pandas_udf(buckets, "array<long>")

    def _scored_candidates(self, df: DataFrame) -> DataFrame:
        """(query_id, neighbor_id, score DECIMAL(18,6)) for every LSH
        bucket-collision candidate — shared by the top-k ranking and the
        threshold gate (:class:`LshCosineNearDup`)."""
        # candidate generation shuffles ONLY (id, table, bucket) — vectors
        # are attached after the distinct, so the bucket join stays narrow
        # no matter the embedding dimension
        q = df.select(
            F.col(self.query_id).alias("query_id"),
            F.col(self.query_vec).cast("array<double>").alias("qv"),
        ).withColumn("qn", _norm(F.col("qv")))
        c = self.corpus.select(
            F.col(self.corpus_id).alias("neighbor_id"),
            F.col(self.corpus_vec).cast("array<double>").alias("cv"),
        ).withColumn("cn", _norm(F.col("cv")))
        bucket_udf = self._bucket_udf()
        qe = q.select(
            "query_id", F.posexplode(bucket_udf(F.col("qv"))).alias("table_id", "bucket")
        )
        ce = self._corpus_buckets(c)
        if self.broadcast_queries:
            qe = F.broadcast(qe)
        cand = (
            qe.join(ce, on=["table_id", "bucket"])
            .select("query_id", "neighbor_id")
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        if self.exclude_self:
            cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
        scored = (
            cand.join(F.broadcast(q), "query_id")
            .join(c, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
                .cast("decimal(18,6)")
                .alias("score"),
            )
        )
        return scored

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        scored = self._scored_candidates(df)
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select(
                "query_id",
                "rank",
                "neighbor_id",
                F.col("score").cast("double").alias("score"),
            )
        )


class LshCosineNearDup(LshCosineTopK):
    """Embedding-space near-dup gate for a corpus increment — the vector
    analog of ``IncrementalMinHashDedup``: every (new, corpus) pair whose
    LSH buckets collide AND whose exact cosine reaches ``threshold``, the
    check a pipeline runs before admitting embeddings semantically
    duplicating what the corpus already holds (SemDeDup's admission-time
    form). Pipe input = the NEW vectors; ``corpus`` = the existing side,
    whose hash tables are served from the fingerprint-keyed index cache
    built once per snapshot. Candidates are bucket collisions only (never
    new x new), scores are exact decimal-rounded cosine, and with
    ``plane_family='md5'`` the WHOLE gate — planes, buckets, candidate
    set, scores — replays bit-exactly in the SQL oracle."""

    def __init__(self, corpus: DataFrame, threshold: float = 0.5, **kwargs):
        kwargs.setdefault("exclude_self", True)
        super().__init__(corpus=corpus, **kwargs)
        self.threshold = threshold

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        return (
            self._scored_candidates(df)
            .filter(F.col("score") >= F.lit(self.threshold))
            .select(
                F.col("query_id").alias("new_id"),
                F.col("neighbor_id").alias("corpus_id"),
                F.col("score").cast("double").alias("score"),
            )
        )


def _ivf_kmeans(
    X: np.ndarray, n_centroids: int, iters: int, seed: int
) -> np.ndarray:
    """Seeded spherical k-means core shared by the Spark trainer
    (:meth:`IvfCosineTopK._train_centroids`) and the pure-Python
    replica (:func:`train_ivf_centroids_local`): given the SAME sample
    matrix in the SAME row order, both produce bit-identical float64
    centroids (identical numpy ops, identical fold order)."""
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                C[j] = m / (np.linalg.norm(m) or 1.0)
    return C


def md5_sample_parquet(
    parquet_path: str,
    seed: int,
    train_sample: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The trainers' shared deterministic sampler, replicated outside
    Spark: read the raw Parquet (pyarrow), order rows by ascending
    ``md5('{seed}:' || id)`` hex digest — exactly Spark's orderBy on ASCII
    strings — and keep the first ``train_sample``. float32→float64
    widening is exact in both readers, so the returned matrix is
    bit-identical to what the Spark-side collect produces."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    keyed = sorted(
        zip(ids, vecs),
        key=lambda p: hashlib.md5(f"{seed}:{p[0]}".encode()).hexdigest(),
    )[:train_sample]
    return np.array([v for _, v in keyed], dtype=np.float64)


def train_ivf_centroids_local(
    parquet_path: str,
    n_centroids: int = 16,
    train_sample: int = 4096,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Bit-exact pure-Python replica of :meth:`IvfCosineTopK._train_centroids`
    (:func:`md5_sample_parquet` + the shared k-means core). Used to embed
    honest centroid literals into the DuckDB oracle (:func:`ivf_topk_sql`)."""
    X = md5_sample_parquet(parquet_path, seed, train_sample, id_col, vec_col)
    return _ivf_kmeans(X, n_centroids, kmeans_iters, seed)


def ivf_topk_sql(
    sf_dir: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 4096,
    kmeans_iters: int = 10,
    seed: int = 42,
    queries_where: str = "vec_id % 25 = 0",
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :class:`IvfCosineTopK` (either assign family —
    both order cells ``sim DESC, cell ASC``):
    retrains the centroids bit-identically from ``{sf_dir}/{table}.parquet``
    (:func:`train_ivf_centroids_local`), embeds them as literals, and
    replays argmax-cell assignment, n_probe probing (both tie-broken
    ``sim DESC, cell ASC`` exactly as the Spark expressions) and the
    decimal-rounded exact cosine re-rank. Assignment/probe decisions
    compare dot products computed in different fold orders (~1e-16 apart) —
    a flip needs two cells tied below that, the same measure-zero exposure
    :func:`lsh_topk_sql` documents. This closes the one `no_oracle` row the
    round-2 driver saw (reference parity: the faiss IVF engine is oracled
    by brute force in ``/root/reference/tests/search/test_dense.py:36-43``)."""
    import os

    C = train_ivf_centroids_local(
        os.path.join(sf_dir, f"{table}.parquet"),
        n_centroids=n_centroids,
        train_sample=train_sample,
        kmeans_iters=kmeans_iters,
        seed=seed,
    )
    rows = ",\n  ".join(
        "({}, [{}]::DOUBLE[])".format(
            j, ", ".join(repr(float(x)) for x in C[j])
        )
        for j in range(len(C))
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
cents(cell, c) AS (VALUES
  {rows}
),
dots AS (
  SELECT e.vec_id, ct.cell, list_dot_product(e.v, ct.c) AS s
  FROM e CROSS JOIN cents ct
),
ranked_cells AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rk
  FROM dots
),
assign AS (SELECT vec_id AS neighbor_id, cell FROM ranked_cells WHERE rk = 1),
probes AS (
  SELECT vec_id AS query_id, cell FROM ranked_cells
  WHERE rk <= {n_probe}
    AND vec_id IN (SELECT vec_id FROM e WHERE {queries_where})
),
cand AS (
  SELECT p.query_id, a.neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE p.query_id <> a.neighbor_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(list_dot_product(q.v, n.v) /
              (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
           AS DECIMAL(18,6)) AS score
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, CAST(score AS DOUBLE) AS score
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


class IvfCosineTopK(Pipe):
    """IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
    corpus into ``n_centroids`` cells; each query probes its ``n_probe``
    nearest cells and exact-reranks only those candidates — the classic
    faiss-IVF structure (reference ``warp_pipes/search/vector_base/faiss.py``)
    re-expressed relationally:

    - **train** (driver): seeded k-means over a deterministic hash-sampled
      subset of corpus vectors (bounded; the standard IVF train path).
    - **assign** (executors): one BLAS matmul per Arrow batch maps each row
      to its nearest centroid -> an integer ``cell`` column.
    - **search**: queries explode to their n_probe cells, broadcast-join
      against the cell-partitioned corpus, exact cosine re-rank, window
      top-k. The only wide operation is the candidate join on ``cell``.

    Deterministic given ``seed`` (sampling orders by md5 of ids — the same
    engine-portable family the MinHash/LSH oracles use — and k-means is
    pure numpy), so the whole pipeline is reproducible outside Spark:
    :func:`train_ivf_centroids_local` retrains bit-identical centroids from
    the raw Parquet and :func:`ivf_topk_sql` emits a DuckDB oracle that
    replays cell assignment + probing + exact re-rank against them.

    ``assign_family`` picks the cell-assignment kernel; both implement the
    same ``(sim DESC, cell ASC)`` ordering the SQL oracle replays:

    - ``'blas'`` (default): Arrow-batched pandas UDF, one BLAS matmul per
      batch with a STABLE argsort (ties -> lowest cell). The fast kernel:
      higher-order array expressions are interpreted in Spark, so a fold
      per (row, cell) costs ~100x a matmul lane.
    - ``'expr'``: per-cell dot products as JVM fold expressions over
      literal centroid arrays — no Python workers at all, at interpreted-
      expression speed. The oracle-shaped reference kernel; parity between
      the two families is asserted in tests."""

    def __init__(
        self,
        corpus: DataFrame,
        k: int = 10,
        n_centroids: int = 16,
        n_probe: int = 4,
        train_sample: int = 4096,
        kmeans_iters: int = 10,
        seed: int = 42,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
        exclude_self: bool = True,
        broadcast_queries: bool = True,
        assign_family: str = "blas",
        centroid_cache_dir: Optional[str] = None,
        materialize_centroids: bool = True,
        index_cache_dir: Optional[str] = None,
        materialize_index: bool = True,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.corpus = corpus
        self.k = k
        self.n_centroids = n_centroids
        self.n_probe = min(n_probe, n_centroids)
        self.train_sample = train_sample
        self.kmeans_iters = kmeans_iters
        self.seed = seed
        self.query_id = query_id
        self.query_vec = query_vec
        self.corpus_id = corpus_id
        self.corpus_vec = corpus_vec
        self.exclude_self = exclude_self
        self.broadcast_queries = broadcast_queries
        if assign_family not in ("expr", "blas"):
            raise ValueError(
                f"assign_family must be 'expr' or 'blas', got {assign_family!r}"
            )
        self.assign_family = assign_family
        self.centroid_cache_dir = centroid_cache_dir
        self.materialize_centroids = materialize_centroids
        self.index_cache_dir = index_cache_dir
        self.materialize_index = materialize_index

    _no_fingerprint = ("corpus", "centroid_cache_dir", "index_cache_dir")

    def _centroids(self) -> np.ndarray:
        """Trained centroids, served from a fingerprint-keyed cache — the
        same index-once-query-many contract as the BM25 postings and the
        shingle tables: every ``IvfCosineTopK`` over the same (corpus,
        training config) reuses one k-means run, across sessions. The
        artifact is a tiny (n_centroids x dim) Parquet — at cluster scale
        point ``centroid_cache_dir`` at shared storage next to the others."""
        if not self.materialize_centroids:
            return self._train_centroids()
        import os
        import tempfile

        from warp_pipes_spark.core.fingerprint import (
            fingerprint_dataframe,
            get_fingerprint,
        )
        from warp_pipes_spark.pipes.cache import CacheManager

        manager = CacheManager(
            self.centroid_cache_dir
            or os.path.join(tempfile.gettempdir(), "warp_pipes_spark_ivf_centroids")
        )
        fp = get_fingerprint(
            {
                "op": "ivf_centroids_v2",
                "corpus": fingerprint_dataframe(self.corpus),
                "vec": self.corpus_vec,
                "id": self.corpus_id,
                "n_centroids": self.n_centroids,
                "train_sample": self.train_sample,
                "kmeans_iters": self.kmeans_iters,
                "seed": self.seed,
            }
        )
        spark = self.corpus.sparkSession
        if not manager.exists(fp):
            C = self._train_centroids()
            rows = [(i, [float(x) for x in C[i]]) for i in range(len(C))]
            # a driver-local frame: published with pyarrow, no Spark job.
            # The trained matrix IS what a reload returns (float64 ->
            # Parquet double round-trips exactly), so serve it directly
            manager.store(
                spark.createDataFrame(rows, "cell int, centroid array<double>"), fp
            )
            return C
        loaded = sorted(
            manager.load(spark, fp).collect(), key=lambda r: r["cell"]
        )
        return np.array([r["centroid"] for r in loaded], dtype=np.float64)

    def _train_centroids(self) -> np.ndarray:
        """Seeded spherical k-means on a deterministic sample (driver-side;
        sample is bounded by train_sample regardless of corpus size).
        Sampling = the ``train_sample`` smallest ``md5('{seed}:' || id)``
        digests: a uniform pseudo-random subset picked by
        TakeOrderedAndProject (per-partition k-sized heaps, one pass, no
        count/sort/extra scan). md5-of-id-string is the engine-portable
        hash family (Spark == hashlib == DuckDB on the same strings), which
        is what lets :func:`train_ivf_centroids_local` reproduce the exact
        sample order — and therefore bit-identical centroids — straight
        from the Parquet file."""
        sample = (
            self.corpus.select(
                F.col(self.corpus_id).alias("id"),
                F.col(self.corpus_vec).cast("array<double>").alias("v"),
            )
            .orderBy(
                F.md5(
                    F.concat(
                        F.lit(f"{self.seed}:"), F.col("id").cast("string")
                    )
                )
            )
            .limit(self.train_sample)
            .collect()
        )
        X = np.array([r["v"] for r in sample], dtype=np.float64)
        return _ivf_kmeans(
            X, self.n_centroids, self.kmeans_iters, self.seed
        )

    def _cell_udf(self, centroids: np.ndarray, n_cells: int):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def cells(vecs):
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            V = np.stack(vecs.to_numpy()).astype(np.float64)
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = V @ centroids.T
            # stable argsort: exact ties resolve to the LOWEST cell index,
            # the same (sim DESC, cell ASC) order the 'expr' kernel and the
            # DuckDB oracle use
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_cells]
            return pd.Series(list(top.astype(np.int64)))

        cells.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        return pandas_udf(cells, "array<long>")

    def _sorted_cells_expr(self, centroids: np.ndarray, vec_col):
        """``assign_family='expr'`` kernel: an ``array<struct<negd,cell>>``
        sorted ascending — i.e. cells ordered (dot DESC, cell ASC) — built
        entirely from JVM fold expressions over literal centroid arrays.
        Stays inside whole-stage codegen (no Python workers), and the
        explicit tie-break is what the DuckDB oracle replays. Normalizing
        the input vector is unnecessary for an argmax over unit-norm
        centroids, so the dot is taken on the raw vector."""
        structs = [
            F.struct(
                (-_dot(vec_col, F.array(*[F.lit(float(x)) for x in c]))).alias(
                    "negd"
                ),
                F.lit(j).cast("long").alias("cell"),
            )
            for j, c in enumerate(centroids)
        ]
        return F.array_sort(F.array(*structs))

    def _assigned_corpus(self, centroids) -> DataFrame:
        """The IVF list structure: (neighbor_id, cell, cv, cn), served from
        a fingerprint-keyed Parquet cache — the faiss ``add()`` output made
        a table. Assigning the corpus is the expensive per-call pass (one
        BLAS matmul over EVERY corpus vector); materializing it completes
        the index-once-query-many contract the BM25 postings and the
        k-means centroids already follow. At cluster scale, write this
        partitioned by ``cell`` so an n_probe query reads only its lists."""
        c = self.corpus.select(
            F.col(self.corpus_id).alias("neighbor_id"),
            F.col(self.corpus_vec).cast("array<double>").alias("cv"),
        ).withColumn("cn", _norm(F.col("cv")))
        if self.assign_family == "expr":
            cell = F.element_at(
                self._sorted_cells_expr(centroids, F.col("cv")), 1
            )["cell"]
        else:
            cell = self._cell_udf(centroids, 1)(F.col("cv"))[0]
        ce = c.withColumn("cell", cell)
        if not self.materialize_index:
            return ce
        import os
        import tempfile

        from warp_pipes_spark.core.fingerprint import (
            fingerprint_dataframe,
            get_fingerprint,
        )
        from warp_pipes_spark.pipes.cache import CacheManager

        manager = CacheManager(
            self.index_cache_dir
            or os.path.join(tempfile.gettempdir(), "warp_pipes_spark_ivf_index")
        )
        fp = get_fingerprint(
            {
                "op": "ivf_index_v2",
                "corpus": fingerprint_dataframe(self.corpus),
                "vec": self.corpus_vec,
                "id": self.corpus_id,
                "n_centroids": self.n_centroids,
                "train_sample": self.train_sample,
                "kmeans_iters": self.kmeans_iters,
                "seed": self.seed,
                "assign": self.assign_family,
            }
        )
        # a cold call publishes the lists before it queries them (from
        # the published artifact); a failed write raises
        return manager.get_or_compute(self.corpus.sparkSession, fp, lambda: ce)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        centroids = self._centroids()
        ce = self._assigned_corpus(centroids)
        q = df.select(
            F.col(self.query_id).alias("query_id"),
            F.col(self.query_vec).cast("array<double>").alias("qv"),
        ).withColumn("qn", _norm(F.col("qv")))
        if self.assign_family == "expr":
            probe_cells = F.transform(
                F.slice(
                    self._sorted_cells_expr(centroids, F.col("qv")),
                    1,
                    self.n_probe,
                ),
                lambda s: s["cell"],
            )
        else:
            probe_cells = self._cell_udf(centroids, self.n_probe)(F.col("qv"))
        qe = q.select("query_id", "qv", "qn", F.explode(probe_cells).alias("cell"))
        if self.broadcast_queries:
            qe = F.broadcast(qe)
        cand = qe.join(ce, on="cell")
        if self.exclude_self:
            cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
        score = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        scored = cand.select(
            "query_id", "neighbor_id", score.cast("decimal(18,6)").alias("score")
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select(
                "query_id",
                "rank",
                "neighbor_id",
                F.col("score").cast("double").alias("score"),
            )
        )


class CosinePairs(Pipe):
    """Embedding near-duplicate pairs: cosine(a, b) >= threshold, a < b.
    Exact O(n²) pair scan — bounded input or pre-bucketed input only; the
    LSH operator is the scale path."""

    def __init__(
        self,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.95,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        from warp_pipes_spark.text.dedup import widen_partitions

        base = widen_partitions(
            df.select(
                F.col(self.id_col).alias("id"),
                F.col(self.vec_col).cast("array<double>").alias("v"),
            )
        ).withColumn("n", _norm(F.col("v")))
        a = base.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")
        )
        b = base.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
        )
        pairs = a.crossJoin(F.broadcast(b)).where(F.col("id_a") < F.col("id_b"))
        cosine = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        return (
            pairs.select(
                "id_a",
                "id_b",
                cosine.cast("decimal(18,6)").alias("cosine"),
            )
            .filter(F.col("cosine") >= F.lit(self.threshold))
            .select("id_a", "id_b", F.col("cosine").cast("double").alias("cosine"))
        )


class MatryoshkaTopK(Pipe):
    """Two-stage exact retrieval over Matryoshka-style embeddings
    (Kusupati et al. 2022, arXiv:2205.13147): MRL-trained vectors pack a
    usable coarse representation into their leading dimensions, so stage 1
    ranks candidates on only the first ``prefix_dim`` components (4x less
    data read at prefix 16/64 — at cluster scale the prefix is stored as
    its own narrow column, the full vector only fetched for candidates)
    and stage 2 re-scores the ``prefilter_k`` survivors with full-dim
    cosine for the final top-k.

    Both stages are deterministic (DECIMAL-cast scores, id tiebreaks) so
    the whole cascade is bit-exact SQL-oracle-able — unlike LSH/IVF whose
    candidate sets depend on seeded structures. Exactness caveat: a true
    neighbor ranked below ``prefilter_k`` on the prefix alone is missed;
    MRL training makes that rare (recall is asserted in tests for plain
    synthetic vectors too)."""

    def __init__(
        self,
        corpus: DataFrame,
        k: int = 10,
        prefix_dim: int = 16,
        prefilter_k: int = 50,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
        exclude_self: bool = True,
        **kwargs,
    ):
        if prefilter_k < k:
            raise ValueError(f"prefilter_k ({prefilter_k}) must be >= k ({k})")
        if prefix_dim < 1:
            raise ValueError(f"prefix_dim must be >= 1, got {prefix_dim}")
        super().__init__(**kwargs)
        self.corpus = corpus
        self.k = k
        self.prefix_dim = prefix_dim
        self.prefilter_k = prefilter_k
        self.query_id = query_id
        self.query_vec = query_vec
        self.corpus_id = corpus_id
        self.corpus_vec = corpus_vec
        self.exclude_self = exclude_self

    _no_fingerprint = ("corpus",)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        d = self.prefix_dim
        q = df.select(
            F.col(self.query_id).alias("query_id"),
            F.col(self.query_vec).cast("array<double>").alias("qv"),
        )
        c = self.corpus.select(
            F.col(self.corpus_id).alias("neighbor_id"),
            F.col(self.corpus_vec).cast("array<double>").alias("cv"),
        )
        # stage 1 touches ONLY the narrow prefix columns (the point of
        # MRL): prefix norms are hoisted to one computation per VECTOR
        # (not per pair), and the quadratic candidate stream carries just
        # (query_id, neighbor_id, coarse) through the ranking window —
        # the round-5 version dragged both full vectors (~130 doubles per
        # pair row) through the 16M-row sort at the 10x soak (92 s)
        # pin stage-1 parallelism: the quadratic pair stream materializes in
        # the STREAM side's partitions (the query prefix table — a few
        # hundred rows in however many splits the source had; measured 5
        # tasks for 16M pairs at the 10x soak). The repartition exchange
        # moves only the narrow query prefixes; each query's pair block
        # stays within one task so the rank window's partial top-k
        # (WindowGroupLimit) still prunes map-side before the shuffle.
        n_shuffle = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        qp, salt = salted_query_fanout(
            q.select("query_id", F.slice("qv", 1, d).alias("qp")), n_shuffle
        )
        qp = qp.withColumn("qpn", _norm(F.col("qp")))
        cp = c.select(
            "neighbor_id", F.slice("cv", 1, d).alias("cp")
        ).withColumn("cpn", _norm(F.col("cp")))
        if salt:
            cp = cp.withColumn(
                "__csalt", F.pmod(F.hash("neighbor_id"), F.lit(salt))
            )
            pairs = qp.join(
                F.broadcast(cp), F.col("__salt") == F.col("__csalt")
            ).drop("__salt", "__csalt")
        else:
            pairs = qp.crossJoin(F.broadcast(cp))
        if self.exclude_self:
            pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
        coarse = (
            _dot(F.col("qp"), F.col("cp")) / (F.col("qpn") * F.col("cpn"))
        ).cast("decimal(18,6)")
        w1 = Window.partitionBy("query_id").orderBy(
            F.desc("coarse"), F.asc("neighbor_id")
        )
        cand = (
            pairs.select("query_id", "neighbor_id", coarse.alias("coarse"))
            .withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= self.prefilter_k)
            .select("query_id", "neighbor_id")
        )
        # stage 2: the full vectors are fetched ONLY for the k'-sized
        # survivor set (|q| x prefilter_k rows); no broadcast hint on the
        # corpus side — AQE picks the join strategy at its real size
        enriched = cand.join(q, "query_id").join(c, "neighbor_id")
        fine = (
            _dot(F.col("qv"), F.col("cv"))
            / (_norm(F.col("qv")) * _norm(F.col("cv")))
        ).cast("decimal(18,6)")
        w2 = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id")
        )
        return (
            enriched.withColumn("score", fine)
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= self.k)
            .select(
                "query_id",
                F.col("rank").cast("int").alias("rank"),
                "neighbor_id",
                F.col("score").cast("double").alias("score"),
            )
        )


def matryoshka_sql(
    queries_sql: str,
    corpus_sql: str,
    k: int = 10,
    prefix_dim: int = 16,
    prefilter_k: int = 50,
    exclude_self: bool = True,
) -> str:
    """DuckDB oracle for :class:`MatryoshkaTopK` — same two deterministic
    stages. ``queries_sql``/``corpus_sql`` must yield (vec_id, embedding)."""
    excl = "WHERE q.vec_id <> c.vec_id" if exclude_self else ""
    return f"""
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS qv,
                  (embedding::DOUBLE[])[1:{prefix_dim}] AS qp FROM ({queries_sql}) t),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv,
             (embedding::DOUBLE[])[1:{prefix_dim}] AS cp FROM ({corpus_sql}) t),
coarse AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.qv, c.cv,
         CAST(list_dot_product(q.qp, c.cp)
              / (sqrt(list_dot_product(q.qp, q.qp))
                 * sqrt(list_dot_product(c.cp, c.cp))) AS DECIMAL(18,6)) AS cs
  FROM q CROSS JOIN c {excl}
),
cand AS (
  SELECT * FROM coarse
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cs DESC, neighbor_id) <= {prefilter_k}
),
fine AS (
  SELECT query_id, neighbor_id,
         CAST(list_dot_product(qv, cv)
              / (sqrt(list_dot_product(qv, qv))
                 * sqrt(list_dot_product(cv, cv))) AS DECIMAL(18,6)) AS score
  FROM cand
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank,
       neighbor_id, CAST(score AS DOUBLE) AS score
FROM fine
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


def lsh_near_dup_sql(
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
    threshold: float = 0.35,
    new_where: str = "vec_id % 10 = 7",
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :class:`LshCosineNearDup` with
    ``plane_family='md5'``: identical planes/buckets, NEW x CORPUS
    collision candidates only, decimal-rounded exact cosine threshold."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
planes AS (
  SELECT t, p, d,
         (('0x' || substring(md5('{seed}:' || t || ':' || p || ':' || d), 1, 12))::BIGINT)
           / 281474976710656.0 - 0.5 AS w
  FROM generate_series(0, {n_tables - 1}) g1(t)
  CROSS JOIN generate_series(0, {n_planes - 1}) g2(p)
  CROSS JOIN generate_series(0, {dim - 1}) g3(d)
),
proj AS (
  SELECT e.vec_id, pl.t, pl.p, SUM(e.v[pl.d + 1] * pl.w) AS s
  FROM e CROSS JOIN planes pl GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, t,
         SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT nc.vec_id AS new_id, cc.vec_id AS corpus_id
  FROM codes nc
  JOIN codes cc ON nc.t = cc.t AND nc.bucket = cc.bucket
  WHERE nc.vec_id IN (SELECT vec_id FROM e WHERE {new_where})
    AND cc.vec_id NOT IN (SELECT vec_id FROM e WHERE {new_where})
    AND nc.vec_id <> cc.vec_id
),
scored AS (
  SELECT c.new_id, c.corpus_id,
         CAST(list_dot_product(q.v, n.v) /
              (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
           AS DECIMAL(18,6)) AS score
  FROM cand c
  JOIN e q ON q.vec_id = c.new_id
  JOIN e n ON n.vec_id = c.corpus_id
)
SELECT new_id, corpus_id, CAST(score AS DOUBLE) AS score
FROM scored WHERE score >= {threshold}
ORDER BY new_id, corpus_id
"""


def lsh_topk_sql(
    dim: int = 64,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    queries_where: str = "vec_id % 25 = 0",
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :class:`LshCosineTopK` with ``plane_family='md5'``:
    identical fixed-point hyperplanes, sign-bit bucket codes, bucket-join
    candidate generation, and decimal-rounded exact cosine re-rank. (Sign
    decisions compare a 64-term dot product against 0 — numpy's and SQL
    SUM's fold orders differ only at ~1e-15, so a flipped sign would need
    |projection| below that; never observed, and measure-zero in theory.)"""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
planes AS (
  SELECT t, p, d,
         (('0x' || substring(md5('{seed}:' || t || ':' || p || ':' || d), 1, 12))::BIGINT)
           / 281474976710656.0 - 0.5 AS w
  FROM generate_series(0, {n_tables - 1}) g1(t)
  CROSS JOIN generate_series(0, {n_planes - 1}) g2(p)
  CROSS JOIN generate_series(0, {dim - 1}) g3(d)
),
proj AS (
  SELECT e.vec_id, pl.t, pl.p, SUM(e.v[pl.d + 1] * pl.w) AS s
  FROM e CROSS JOIN planes pl GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, t,
         SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT qc.vec_id AS query_id, cc.vec_id AS neighbor_id
  FROM codes qc
  JOIN codes cc ON qc.t = cc.t AND qc.bucket = cc.bucket
  WHERE qc.vec_id IN (SELECT vec_id FROM e WHERE {queries_where})
    AND qc.vec_id <> cc.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(list_dot_product(q.v, n.v) /
              (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
           AS DECIMAL(18,6)) AS score
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, CAST(score AS DOUBLE) AS score
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def ivf_balance_sql(
    sf_dir: str,
    n_centroids: int = 16,
    train_sample: int = 4096,
    kmeans_iters: int = 10,
    seed: int = 42,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for the IVF cell-balance audit (q209): retrains the
    q47 centroids bit-identically, replays argmax-cell assignment, and
    reports per-cell membership with exact-integer share/load ratios."""
    import os

    C = train_ivf_centroids_local(
        os.path.join(sf_dir, f"{table}.parquet"),
        n_centroids=n_centroids,
        train_sample=train_sample,
        kmeans_iters=kmeans_iters,
        seed=seed,
    )
    rows = ",\n  ".join(
        "({}, [{}]::DOUBLE[])".format(
            j, ", ".join(repr(float(x)) for x in C[j])
        )
        for j in range(len(C))
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
cents(cell, c) AS (VALUES
  {rows}
),
dots AS (
  SELECT e.vec_id, ct.cell, list_dot_product(e.v, ct.c) AS s
  FROM e CROSS JOIN cents ct
),
assign AS (
  SELECT vec_id, cell FROM dots
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) = 1
),
per_cell AS (SELECT cell, COUNT(*) AS n FROM assign GROUP BY cell),
tot AS (SELECT SUM(n) AS total FROM per_cell)
SELECT c.cell, CAST(c.n AS BIGINT) AS n_vecs,
       CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
       CAST(c.n * {n_centroids} AS DOUBLE) / CAST(t.total AS DOUBLE)
         AS load_factor
FROM per_cell c CROSS JOIN tot t
ORDER BY c.cell
"""
