"""Deduplication operators for LLM-data pipelines (north-star extensions).

Four families, all expressed as DataFrame plans designed for 100 TB:

- **ExactDedup** — hash-groupBy on content (or a normalized fingerprint).
  One shuffle on the group key; map-side partial aggregation halves traffic.
- **NgramJaccardDedup** — exact n-gram-shingle Jaccard via an inverted
  index: explode distinct shingles, self-join on shingle (co-occurrence
  counts), Jaccard from |A∩B| / (|A|+|B|-|A∩B|). Deterministic (no hashing),
  SQL-expressible — this is the correctness oracle for the sketch methods.
  Scale note: join fan-out is bounded by dropping ultra-common shingles
  (document-frequency cap), the standard trick to keep the inverted index
  skew-free.
- **MinHashDedup** — MinHash signatures + LSH banding: per-shingle 64-bit
  hashes under ``n_hashes`` seeded permutations (xxhash64), per-doc min,
  band → bucket join on (band_id, band_hash), candidate pairs verified with
  exact Jaccard. Sub-quadratic: the only shuffle is on bucket keys.
- **SimHashDedup** — 64-bit SimHash of token hashes; near-dups = pairs whose
  signatures agree on all-but-<=k bit-bands (bucketed join per band).
- **EmbeddingCosineDedup** lives in ``warp_pipes_spark.ml.similarity``.
"""

from __future__ import annotations

import os
from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.text.analysis import (
    TOKEN_SPLIT_RE,
    ascii_lower_py,
    tokens_expr,
    tokens_sql,
)


def shingles_expr(text, n: int = 3):
    """Distinct word n-gram shingles of the tokenized text (array<string>).
    Built with zip-free index arithmetic: shingle i = tokens[i .. i+n-1]."""
    toks = tokens_expr(text)
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), n_sh)  # 1-based for slice()
    return F.when(n_sh > 0, F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )).otherwise(F.array().cast("array<string>"))


def shingles_udf(n: int = 3):
    """Vectorized shingle kernel (pandas UDF): byte-identical to
    ``shingles_expr`` (same regex, same first-occurrence dedup order) but
    ~3x faster — Spark's higher-order array functions are interpreted, a
    Python loop over Arrow batches beats them."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    tok_re = re.compile(TOKEN_SPLIT_RE)

    def kernel(texts):
        out = []
        for t in texts:
            toks = [x for x in tok_re.split(ascii_lower_py(t)) if x]
            if len(toks) >= n:
                out.append(
                    list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))
                )
            else:
                out.append([])
        return pd.Series(out)

    kernel.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(kernel, "array<string>")


def shingles_sql(text: str = "text", n: int = 3) -> str:
    toks = tokens_sql(text)
    return (
        f"CASE WHEN len({toks}) >= {n} THEN list_distinct(list_transform("
        f"generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))) "
        f"ELSE [] END"
    )


def widen_partitions(df: DataFrame) -> DataFrame:
    """Repartition only when the input is drastically narrower than the
    session's parallelism (e.g. a single-row-group parquet file read on a
    32-core local session, which would run every Python kernel on one
    core). A cluster reading many files/row-groups already has wide inputs
    and skips the shuffle entirely.

    Width is estimated from the scan's file metadata (count + local byte
    sizes vs ``spark.sql.files.maxPartitionBytes``) — never by converting
    the plan to an RDD, which costs a driver-side partition-planning pass
    per call. Non-file inputs (in-memory relations) fall back to the RDD
    partition count, which is cheap for local relations."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        try:
            raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
            max_pb = int(str(raw).lower().rstrip("b")) or 1
        except ValueError:
            max_pb = 128 * 1024 * 1024
        total = 0
        for f in files:
            local = f[len("file://"):] if f.startswith("file://") else f
            try:
                total += os.path.getsize(local)
            except OSError:
                # remote FS: many files => already wide; few files => the
                # file count itself bounds the scan width
                total = None
                break
        est = (
            max(len(files), -(-total // max_pb)) if total is not None else len(files)
        )
        if est * 4 <= target:
            return df.repartition(target)
        return df
    if df.rdd.getNumPartitions() * 4 <= target:
        return df.repartition(target)
    return df


def _default_shingle_cache_dir() -> str:
    import tempfile

    return os.path.join(tempfile.gettempdir(), "warp_pipes_spark_shingles")


def shingle_table(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
    cache_dir: Optional[str] = None,
) -> DataFrame:
    """The ``(doc_id, shingles)`` table every shingle-based dedup consumes,
    served from a fingerprint-keyed Parquet cache: the tokenize+shingle
    pass (the dominant cost — a full corpus scan through the Python kernel)
    runs ONCE per (corpus, n) and is shared across operators — Jaccard
    pair-finding, MinHash signatures, and cluster formation over either's
    pairs all reuse the same artifact, mirroring the BM25 index-once-
    query-many design. At cluster scale point ``cache_dir`` at shared
    storage. ``materialize=False`` returns the raw plan (callers persist)."""
    built = widen_partitions(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    ).select(
        "doc_id",
        shingles_udf(n)(F.col(text_col)).alias("shingles"),
    )
    if not materialize:
        return built
    from warp_pipes_spark.core.fingerprint import (
        fingerprint_dataframe,
        get_fingerprint,
    )
    from warp_pipes_spark.pipes.cache import CacheManager

    manager = CacheManager(cache_dir or _default_shingle_cache_dir())
    fp = get_fingerprint(
        {
            "op": "shingles_v1",
            "corpus": fingerprint_dataframe(df),
            "id": id_col,
            "text": text_col,
            "n": n,
        }
    )
    return manager.get_or_compute(df.sparkSession, fp, lambda: built)


class ExactDedup(Pipe):
    """Exact duplicate groups by content column: ``groupBy(text)`` with
    count + min(doc_id) as the canonical representative. One shuffle; at
    100 TB, group on a 64-bit fingerprint (see DocFingerprint) instead of
    the raw text to cut shuffle width from document size to 8 bytes."""

    def __init__(
        self,
        key_col: str = "text",
        id_col: str = "doc_id",
        min_copies: int = 2,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.key_col = key_col
        self.id_col = id_col
        self.min_copies = min_copies

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        return (
            df.groupBy(self.key_col)
            .agg(
                F.count(F.lit(1)).alias("n_copies"),
                F.min(self.id_col).alias("canonical_id"),
            )
            .filter(F.col("n_copies") >= self.min_copies)
        )


class NgramJaccardDedup(Pipe):
    """Exact n-gram Jaccard similar pairs via inverted-index self-join.

    Plan shape (direct path): docs → (doc_id, n_shingles, shingle)
    exploded inverted index (sizes ride inline) → self-join on
    xxhash64(shingle) (doc_a < doc_b) → groupBy pair count (a lossless
    SUPERSET filter applies right at the aggregation output — no
    candidate-sized joins) → exact string-set verify of the survivors.
    The verified pair table is a fingerprint-keyed Parquet artifact
    shared by every consumer (clusters, sketch audits, funnels).
    Common-shingle cap (``max_df``) bounds worst-case fan-out, which is
    what keeps this viable at scale.

    ``max_df`` CHANGES THE MEASURE: with a cap, the score is the *capped*
    Jaccard — |A'∩B'| / (|A|+|B|-|A'∩B'|) where A'/B' drop shingles with
    df > max_df but the denominator keeps FULL set sizes. Both the direct
    join and the prefix-filter path implement this same capped measure (the
    prefix guarantee survives: capped overlap o <= |B'| <= |B| still forces
    o >= ceil(t*|d|) for qualifying pairs, so prefixes over the capped,
    (df, shingle)-ordered sets lose no qualifying pair)."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        threshold: float = 0.5,
        max_df: Optional[int] = None,
        prefix_filter: bool = True,
        persist: bool = True,
        materialize_shingles: bool = True,
        shingle_cache_dir: Optional[str] = None,
        cache_pairs: bool = True,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.threshold = threshold
        self.max_df = max_df
        self.prefix_filter = prefix_filter
        self.persist = persist
        self.materialize_shingles = materialize_shingles
        self.shingle_cache_dir = shingle_cache_dir
        self.cache_pairs = cache_pairs

    _no_fingerprint = ("shingle_cache_dir",)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        docs = shingle_table(
            df,
            self.n,
            self.id_col,
            self.text_col,
            materialize=self.materialize_shingles,
            cache_dir=self.shingle_cache_dir,
        )
        if self.persist and not self.materialize_shingles:
            # the shingle table feeds the sizes branch and both sides of the
            # inverted-index self-join; without a materialization point Spark
            # recomputes tokenize+shingle per branch (the materialized path
            # is already Parquet-backed — re-scans are cheap and parallel).
            # localCheckpoint, not persist: the returned pair plan holds the
            # reference lazily, so a bare persist would leak the cache entry
            # for the session's lifetime
            docs = docs.localCheckpoint()
        sizes = docs.select("doc_id", F.size("shingles").alias("n_shingles"))
        # the inverted index carries each doc's FULL set size inline (one
        # int, functionally dependent on doc_id) so the direct path's
        # Jaccard filter can apply AT the pair-aggregation output — see
        # below
        inv = docs.select(
            "doc_id",
            F.size("shingles").alias("n_shingles"),
            F.explode("shingles").alias("shingle"),
        )
        verify_docs = docs
        if self.max_df is not None:
            df_counts = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            inv = (
                inv.join(df_counts.filter(F.col("df") <= self.max_df), "shingle")
                .select("doc_id", "n_shingles", "shingle")
            )
            # verification must intersect the CAPPED shingle sets so both
            # paths score the same capped-Jaccard measure (denominator keeps
            # full sizes via the `sizes` join below)
            verify_docs = inv.groupBy("doc_id").agg(
                F.collect_list("shingle").alias("shingles")
            )
        if self.prefix_filter:
            pairs = self._candidates_prefix(
                inv.select("doc_id", "shingle"), sizes
            )
            return self._verify_pairs(pairs, verify_docs, sizes)
        # Direct path, candidate-generation shape for scale:
        # (1) set sizes ride the inverted index, so the Jaccard threshold
        #     applies at the pair-aggregation output — NOT after two
        #     candidate-sized shuffle joins (at 10x bench scale the
        #     candidate table is ~60M pairs vs ~250k survivors; those two
        #     joins dominated the old plan);
        # (2) the self-join keys on xxhash64(shingle): an 8-byte fixed-width
        #     compare across the sum(df^2) join fan-out instead of a
        #     multi-word string compare. Hash equality is a SUPERSET of
        #     string equality and Jaccard is increasing in n_common, so
        #     hash-filtered candidates lose no qualifying pair; the exact
        #     string-set verify on the survivors restores exactness
        #     regardless of collisions (lossless end to end).
        # The threshold gets 1e-6 slack because the final verify rounds
        # through DECIMAL(18,6) (half-up): a true Jaccard within half an ulp
        # below the threshold still rounds up to it, and the candidate
        # filter must keep it. greatest(denom, 1) guards the (collision-
        # only) case n_common_h >= size_a + size_b, which must PASS.
        h = F.xxhash64("shingle")
        a = inv.select(
            F.col("doc_id").alias("doc_a"),
            F.col("n_shingles").alias("size_a"),
            h.alias("__h"),
        )
        b = inv.select(
            F.col("doc_id").alias("doc_b"),
            F.col("n_shingles").alias("size_b"),
            h.alias("__h"),
        )
        cand = (
            a.join(b, "__h")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).alias("n_common_h"))
            .where(
                F.col("n_common_h")
                / F.greatest(
                    (
                        F.col("size_a") + F.col("size_b") - F.col("n_common_h")
                    ).cast("double"),
                    F.lit(1.0),
                )
                >= F.lit(self.threshold - 1e-6)
            )
            .select("doc_a", "doc_b")
        )
        out = self._verify_pairs(cand, verify_docs, sizes)
        if not self.cache_pairs:
            return out
        # Fingerprint-keyed Parquet cache of the PAIR TABLE itself, the
        # same index-once-query-many design as shingle_table and the BM25
        # postings artifact: the exact near-dup pair set feeds cluster
        # formation (DedupClusters/q55), sketch audits (MinHashEstimate/
        # q137) and funnels — each previously re-ran the full
        # sum(df^2)-cost candidate join. Keyed by corpus content + measure
        # params only (NOT prefix_filter: both paths produce the identical
        # pair set — asserted in tests — so either fills the other's
        # cache). The prefix path returns its live plan above so the
        # path-equality tests keep comparing two real computations.
        from warp_pipes_spark.core.fingerprint import (
            fingerprint_dataframe,
            get_fingerprint,
        )
        from warp_pipes_spark.pipes.cache import CacheManager

        manager = CacheManager(
            self.shingle_cache_dir or _default_shingle_cache_dir()
        )
        fp = get_fingerprint(
            {
                "op": "ngram_jaccard_pairs_v1",
                "corpus": fingerprint_dataframe(df),
                "id": self.id_col,
                "text": self.text_col,
                "n": self.n,
                "threshold": self.threshold,
                "max_df": self.max_df,
            }
        )
        return manager.get_or_compute(df.sparkSession, fp, lambda: out)

    def _candidates_prefix(self, inv: DataFrame, sizes: DataFrame) -> DataFrame:
        """AllPairs/PPJoin prefix filtering (exact): under a global
        (df, shingle) order, any pair with jaccard >= t shares a shingle
        within each doc's first ``|d| - ceil(t*|d|) + 1`` shingles (because
        J >= t implies overlap >= ceil(t*|d|) for both docs). Joining
        prefix x prefix therefore loses no qualifying pair while shrinking
        the self-join quadratically — rare shingles sort first, so prefixes
        land in low-df postings."""
        from pyspark.sql import Window

        df_counts = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            inv.join(df_counts, "shingle")
            .withColumn(
                "pos",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("df", "shingle")
                ),
            )
            .join(sizes, "doc_id")
        )
        prefix_len = (
            F.col("n_shingles")
            - F.ceil(F.lit(self.threshold) * F.col("n_shingles"))
            + 1
        )
        prefix = ranked.where(F.col("pos") <= prefix_len).select("doc_id", "shingle")
        a = prefix.alias("a")
        b = prefix.alias("b")
        return (
            a.join(b, on="shingle")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )

    def _verify_pairs(
        self, pairs: DataFrame, docs: DataFrame, sizes: Optional[DataFrame] = None
    ) -> DataFrame:
        """Exact verification of candidate pairs. ``docs`` carries the
        shingle arrays to intersect (the df-capped sets when max_df is on);
        ``sizes`` supplies the FULL set sizes for the denominator (defaults
        to the sizes of ``docs`` itself)."""
        da = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
        db = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
        joined = pairs.join(da, "doc_a").join(db, "doc_b")
        if sizes is not None:
            sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("__na"))
            sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("__nb"))
            joined = joined.join(sa, "doc_a").join(sb, "doc_b")
            size_sum = F.col("__na") + F.col("__nb")
        else:
            size_sum = F.size("sh_a") + F.size("sh_b")
        return (
            joined
            .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                (
                    F.col("n_common")
                    / (size_sum - F.col("n_common")).cast("double")
                ).cast("decimal(18,6)"),
            )
            .filter(F.col("jaccard") >= F.lit(self.threshold))
            .select(
                "doc_a",
                "doc_b",
                "n_common",
                F.col("jaccard").cast("double").alias("jaccard"),
            )
        )


def ngram_jaccard_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: Optional[int] = None,
) -> str:
    sh = shingles_sql(text, n)
    inv_cte = (
        "SELECT doc_id, unnest(shingles) AS shingle FROM docs"
        if max_df is None
        else (
            "SELECT doc_id, shingle FROM ("
            "SELECT doc_id, unnest(shingles) AS shingle FROM docs) "
            "QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= " + str(max_df)
        )
    )
    return f"""
WITH docs AS (
  SELECT {id_col} AS doc_id, {sh} AS shingles FROM {table}
), sizes AS (
  SELECT doc_id, len(shingles) AS n_shingles FROM docs
), inv AS (
  {inv_cte}
), pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.n_common,
       CAST(CAST(p.n_common / CAST(sa.n_shingles + sb.n_shingles - p.n_common AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
FROM pair_inter p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE CAST(p.n_common / CAST(sa.n_shingles + sb.n_shingles - p.n_common AS DOUBLE)
           AS DECIMAL(18,6)) >= {threshold}
ORDER BY doc_a, doc_b
"""


def portable_minhash_sig(shingles, n_hashes: int = 32):
    """MinHash signature over a shingle array with a CROSS-ENGINE hash
    family: h_i(s) = first 16 hex chars of md5('<i>:' || s), minimized as a
    string. xxhash64 (the production MinHashDedup family) has no DuckDB
    twin; md5 exists in both engines with identical lowercase-hex output,
    so signatures built this way are differentially testable end-to-end.
    Row-local (array expressions only — zero shuffle, scales with the
    scan)."""
    seeds = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    return F.transform(
        seeds,
        lambda i: F.array_min(
            F.transform(
                shingles,
                lambda s: F.substring(
                    F.md5(F.concat(i.cast("string"), F.lit(":"), s)), 1, 16
                ),
            )
        ),
    )


def portable_minhash_sig_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    n_hashes: int,
) -> DataFrame:
    """(id, text) -> (__sid, __sig) with the SAME portable md5 family as
    :func:`portable_minhash_sig`, restructured for whole-stage codegen:
    explode the shingles, evaluate the ``n_hashes`` md5 mins as plain
    aggregate expressions, reassemble the array. The nested-HOF
    expression form is interpreted element-by-element (measured 3.6x
    slower at sf0.1, and it inherits the scan's partitioning — see the
    widen note); this form is all codegen, and the groupBy's map-side
    partial aggregation reduces each doc to one row before any shuffle,
    so the exchange carries n_docs rows, not n_shingles. Values are
    bit-identical to the expression form (asserted in tests). Docs with
    zero shingles get no row — matching the oracles' len(shingles) > 0
    gate."""
    sh = widen_partitions(
        df.select(F.col(id_col).alias("__sid"), F.col(text_col))
    ).select(
        "__sid", F.explode(shingles_expr(F.col(text_col), n)).alias("__s")
    )
    aggs = [
        F.min(
            F.substring(
                F.md5(F.concat(F.lit(str(i)), F.lit(":"), F.col("__s"))), 1, 16
            )
        ).alias(f"__h{i}")
        for i in range(n_hashes)
    ]
    return (
        sh.groupBy("__sid")
        .agg(*aggs)
        .select(
            "__sid",
            F.array(*[F.col(f"__h{i}") for i in range(n_hashes)]).alias(
                "__sig"
            ),
        )
    )


class MinHashEstimate(Pipe):
    """MinHash accuracy audit: for every exact near-dup pair (trigram
    Jaccard >= threshold, the NgramJaccardDedup pair set) emit the
    ``n_hashes``-component signature estimate of Jaccard NEXT TO the exact
    value — the sketch-error report a dedup pipeline publishes before
    trusting MinHash candidates at a scale where exact verification is
    unaffordable. E[matches/k] = J by the MinHash property; with k a power
    of two the estimate is an exact binary double, so estimate and error
    are bit-identical across engines (fully SQL-oracle-able, unlike the
    xxhash64 production signatures of MinHashDedup).

    Reference anchor: the verify-by-exact-Jaccard step of
    ``MinHashDedup``; extension operator (the reference has no sketch
    audit)."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        n_hashes: int = 32,
        threshold: float = 0.5,
        **kwargs,
    ):
        super().__init__(**kwargs)
        assert n_hashes & (n_hashes - 1) == 0, (
            f"n_hashes ({n_hashes}) must be a power of two so matches/k is "
            "an exact binary double (cross-engine bit-stability)"
        )
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.n_hashes = n_hashes
        self.threshold = threshold

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        pairs = NgramJaccardDedup(
            text_col=self.text_col,
            id_col=self.id_col,
            n=self.n,
            threshold=self.threshold,
            prefix_filter=False,
        )(df)
        # codegen'd signature table (NOT the nested-HOF expression off the
        # raw scan: interpreted per-element AND single-partition on a
        # one-file local read — measured 381 s of a 384 s query at sf0.1)
        sig = portable_minhash_sig_table(
            df, self.id_col, self.text_col, self.n, self.n_hashes
        )
        a = sig.select(
            F.col("__sid").alias("doc_a"), F.col("__sig").alias("__sig_a")
        )
        b = sig.select(
            F.col("__sid").alias("doc_b"), F.col("__sig").alias("__sig_b")
        )
        # component-match count as a codegen'd comparison chain, not an
        # interpreted zip_with/filter HOF (measured 3x on the pair stage)
        matches = sum(
            F.when(
                F.col("__sig_a")[i] == F.col("__sig_b")[i], 1
            ).otherwise(0)
            for i in range(self.n_hashes)
        )
        est = F.col("n_matches").cast("double") / F.lit(float(self.n_hashes))
        return (
            pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .withColumn("n_matches", matches.cast("long"))
            .withColumn("est_jaccard", est)
            .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("jaccard")))
            .select(
                "doc_a",
                "doc_b",
                "n_common",
                "jaccard",
                "n_matches",
                "est_jaccard",
                "abs_err",
            )
        )


def minhash_estimate_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 32,
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle for :class:`MinHashEstimate` — identical md5 hash
    family, identical string-min signatures, identical IEEE estimate/error
    arithmetic."""
    sh = shingles_sql(text, n)
    pair_sql = ngram_jaccard_sql(table, text, id_col, n, threshold)
    return f"""
WITH pairs AS ({pair_sql}),
sdocs AS (
  SELECT {id_col} AS doc_id, {sh} AS shingles FROM {table}
),
sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, {n_hashes - 1}), i ->
           list_min(list_transform(shingles, s ->
             substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 16)))) AS sig
  FROM sdocs WHERE len(shingles) > 0
),
matched AS (
  SELECT p.doc_a, p.doc_b, p.n_common, p.jaccard,
         len(list_filter(generate_series(1, {n_hashes}),
             j -> sa.sig[j] = sb.sig[j])) AS n_matches
  FROM pairs p
  JOIN sig sa ON p.doc_a = sa.doc_id
  JOIN sig sb ON p.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, n_common, jaccard,
       CAST(n_matches AS BIGINT) AS n_matches,
       CAST(n_matches AS DOUBLE) / {float(n_hashes)} AS est_jaccard,
       abs(CAST(n_matches AS DOUBLE) / {float(n_hashes)} - jaccard) AS abs_err
FROM matched
ORDER BY doc_a, doc_b
"""




def minhash_signature_df(
    docs: DataFrame, n_hashes: int, hash_family: str
) -> DataFrame:
    """(doc_id, shingles) -> + signature column. 'md5' = the portable
    string-min family (SQL-replayable); 'xxhash' = JVM-side (fastest)."""
    if hash_family == "md5":
        return docs.select(
            "doc_id",
            "shingles",
            portable_minhash_sig(F.col("shingles"), n_hashes).alias("signature"),
        )

    def min_hash(seed: int):
        # closure factory: a 2-param lambda would be read as (element, index)
        return F.array_min(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s, F.lit(seed)))
        )

    return docs.select(
        "doc_id",
        "shingles",
        F.array(*[min_hash(i) for i in range(n_hashes)]).alias("signature"),
    )


def minhash_band_keys(n_hashes: int, band_size: int, hash_family: str):
    """The LSH band keys of a ``signature`` column, one per band. md5
    signatures are strings: the band key is the joined slice itself
    (SQL-reproducible); xxhash signatures re-hash JVM-side."""
    n_bands = n_hashes // band_size

    def band_key(b: int):
        parts = [
            F.col("signature")[i]
            for i in range(b * band_size, (b + 1) * band_size)
        ]
        if hash_family == "md5":
            return F.concat_ws("|", *parts)
        return F.xxhash64(*parts).cast("string")

    return [band_key(b) for b in range(n_bands)]




class MinHashDedup(Pipe):
    """MinHash + LSH banding near-dup candidates, verified by exact Jaccard.

    signature[i] = min over shingles of xxhash64(shingle, seed=i);
    bands of ``band_size`` rows hashed to buckets; docs sharing any
    (band_id, band_hash) bucket become candidates; candidates are verified
    with exact shingle Jaccard so the output is deterministic given the data
    (LSH affects recall only). Shuffles: explode→min (map-side combine),
    bucket join, verification join — all on compact integer keys.

    Scale composition: run :class:`ExactDedup` FIRST (as the curation
    example does). Unlike SimHash — whose Hamming verification is a pure
    function of the signature, letting its banding join collapse to
    distinct signatures — MinHash verification needs the shingle SETS, so
    identical-text duplicates can only be collapsed upstream; k exact
    copies left in place contribute k rows to every bucket they share."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        n_hashes: int = 32,
        band_size: int = 4,
        threshold: float = 0.5,
        persist: bool = True,
        materialize_shingles: bool = True,
        shingle_cache_dir: Optional[str] = None,
        hash_family: str = "xxhash",
        **kwargs,
    ):
        if hash_family not in ("xxhash", "md5"):
            raise ValueError(f"hash_family must be 'xxhash' or 'md5', got {hash_family!r}")
        super().__init__(**kwargs)
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.n_hashes = n_hashes
        self.band_size = band_size
        self.threshold = threshold
        self.persist = persist
        self.materialize_shingles = materialize_shingles
        self.shingle_cache_dir = shingle_cache_dir
        # 'xxhash': JVM-side signature hashes (fastest). 'md5': the
        # portable_minhash_sig string-min family — same LSH statistics,
        # reproducible in SQL, so the banded candidate generation + exact
        # verify pipeline is differentially testable end to end
        self.hash_family = hash_family
        assert n_hashes % band_size == 0, "n_hashes must divide into bands"

    _no_fingerprint = ("shingle_cache_dir",)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        docs = shingle_table(
            df,
            self.n,
            self.id_col,
            self.text_col,
            materialize=self.materialize_shingles,
            cache_dir=self.shingle_cache_dir,
        ).filter(F.size("shingles") > 0)
        if self.persist and not self.materialize_shingles:
            # shingle arrays feed the signature AND both verification-join
            # sides; materialize once, GC-released (see MinHashJoin above)
            docs = docs.localCheckpoint()
        # signature: per-row array expressions — no explode, no shuffle
        sig = minhash_signature_df(docs, self.n_hashes, self.hash_family)
        bands = sig.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *minhash_band_keys(
                        self.n_hashes, self.band_size, self.hash_family
                    )
                )
            ).alias("band_id", "band_hash"),
        )
        if self.persist:
            bands = bands.localCheckpoint()
        a = bands.alias("a")
        b = bands.alias("b")
        candidates = (
            a.join(b, on=["band_id", "band_hash"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        # verify candidates with exact Jaccard (deterministic output)
        da = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
        db = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
        verified = (
            candidates.join(da, "doc_a")
            .join(db, "doc_b")
            .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                (
                    F.col("n_common")
                    / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")).cast("double")
                ).cast("decimal(18,6)"),
            )
            .filter(F.col("jaccard") >= F.lit(self.threshold))
            .select("doc_a", "doc_b", F.col("jaccard").cast("double").alias("jaccard"))
        )
        return verified




class IncrementalMinHashDedup(Pipe):
    """NEAR-dup gate for a corpus increment — the MinHash counterpart of
    :class:`IncrementalDedup`'s exact-hash anti-join: verified near-dup
    pairs between a NEW batch (the pipe input) and the EXISTING corpus,
    the check a daily crawl runs before admitting documents that are
    paraphrases (not byte-copies) of what the corpus already holds.

    Candidates come from an LSH band join between the two sides — never a
    self-join, never new x new or old x old — and verify with exact
    shingle Jaccard, so output is deterministic given the data (banding
    affects recall only). Output: ``(new_id, corpus_id, jaccard)``.

    Scale shape: the corpus side's shingles/signatures are served from
    the shared fingerprint-keyed shingle cache (built once per corpus
    snapshot, reused across daily increments); the increment side is
    small by contract, so its band table BROADCASTS — the corpus streams
    map-side through the band join and only candidate pairs shuffle."""

    def __init__(
        self,
        corpus: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        n_hashes: int = 32,
        band_size: int = 4,
        threshold: float = 0.5,
        materialize_shingles: bool = True,
        shingle_cache_dir: Optional[str] = None,
        hash_family: str = "xxhash",
        **kwargs,
    ):
        if hash_family not in ("xxhash", "md5"):
            raise ValueError(f"hash_family must be 'xxhash' or 'md5', got {hash_family!r}")
        if n_hashes % band_size:
            raise ValueError("n_hashes must divide into bands")
        super().__init__(**kwargs)
        self.corpus = corpus
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.n_hashes = n_hashes
        self.band_size = band_size
        self.threshold = threshold
        self.materialize_shingles = materialize_shingles
        self.shingle_cache_dir = shingle_cache_dir
        self.hash_family = hash_family

    _no_fingerprint = ("corpus", "shingle_cache_dir")

    def _bands(self, df: DataFrame, materialize: bool) -> tuple:
        docs = shingle_table(
            df,
            self.n,
            self.id_col,
            self.text_col,
            materialize=materialize,
            cache_dir=self.shingle_cache_dir,
        ).filter(F.size("shingles") > 0)
        sig = minhash_signature_df(docs, self.n_hashes, self.hash_family)
        bands = sig.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *minhash_band_keys(
                        self.n_hashes, self.band_size, self.hash_family
                    )
                )
            ).alias("band_id", "band_hash"),
        )
        return docs, bands

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        # increment side: small by contract — in-plan, broadcast
        new_docs, new_bands = self._bands(df, materialize=False)
        # corpus side: served from the shared shingle cache
        old_docs, old_bands = self._bands(
            self.corpus, materialize=self.materialize_shingles
        )
        candidates = (
            old_bands.alias("o")
            .join(
                F.broadcast(new_bands.alias("nw")),
                on=["band_id", "band_hash"],
            )
            .where(F.col("nw.doc_id") != F.col("o.doc_id"))
            .select(
                F.col("nw.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("corpus_id"),
            )
            .distinct()
        )
        na = new_docs.select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_a"))
        ob = old_docs.select(F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_b"))
        return (
            candidates.join(F.broadcast(na), "new_id")
            .join(ob, "corpus_id")
            .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                (
                    F.col("n_common")
                    / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")).cast("double")
                ).cast("decimal(18,6)"),
            )
            .filter(F.col("jaccard") >= F.lit(self.threshold))
            .select(
                "new_id", "corpus_id", F.col("jaccard").cast("double").alias("jaccard")
            )
        )




class SimHashDedup(Pipe):
    """64-bit SimHash near-dup: signature bit j = sign of sum over distinct
    tokens of (+1 if bit j of xxhash64(token) else -1). Candidate pairs share
    at least one of ``n_bands`` signature bands (bucketed join), then are
    filtered by Hamming distance <= ``max_hamming``.

    The banding join runs at SIGNATURE granularity: signatures are
    deduplicated before the band self-join, verified pairs are computed
    between distinct signatures, and doc pairs expand back through the
    doc->signature map. Hamming distance is a pure function of the
    signatures, so the emitted pair set is IDENTICAL to the naive doc-level
    join — but a corpus where one document repeats k times contributes ONE
    signature to the quadratic join instead of k rows (the sf1 soak's
    10-copy corpus showed exactly this blow-up).

    ``output`` picks the result shape:

    - ``'pairs'`` (default): every verified (doc_a, doc_b, hamming) pair —
      the oracled reference shape. Inherently O(clique²) rows when the
      corpus contains large near-identical groups.
    - ``'sig_edges'``: a connectivity-equivalent sparse edge set — each doc
      links to its signature's min-doc representative (hamming 0) and
      representatives of verified signature pairs link to each other.
      Connected components over these edges equal components over the full
      pair set (the doc-pair graph is the signature graph blown up by
      identical-signature cliques), with O(docs + sig_pairs) edges instead
      of O(Σ clique²) — the shape to feed ``DedupClusters`` at 100 TB."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        bits: int = 64,
        n_bands: int = 8,
        max_hamming: int = 3,
        persist: bool = True,
        materialize_signatures: bool = True,
        signature_cache_dir: Optional[str] = None,
        hash_family: str = "xxhash",
        output: str = "pairs",
        **kwargs,
    ):
        if hash_family not in ("xxhash", "md5"):
            raise ValueError(f"hash_family must be 'xxhash' or 'md5', got {hash_family!r}")
        if output not in ("pairs", "sig_edges"):
            raise ValueError(f"output must be 'pairs' or 'sig_edges', got {output!r}")
        self.output = output
        super().__init__(**kwargs)
        self.text_col = text_col
        self.id_col = id_col
        self.bits = bits
        self.n_bands = n_bands
        self.max_hamming = max_hamming
        self.persist = persist
        self.materialize_signatures = materialize_signatures
        self.signature_cache_dir = signature_cache_dir
        # 'xxhash': token hashes computed JVM-side (fastest). 'md5': first
        # 16 md5 hex chars as the 64-bit token hash — same signature
        # statistics, but reproducible in plain SQL, making the full
        # signature -> band -> candidate -> hamming pipeline
        # differentially testable against a DuckDB oracle
        self.hash_family = hash_family
        # pigeonhole: a pair within max_hamming differs in <= max_hamming
        # bands, so it SHARES a band only if max_hamming < n_bands — beyond
        # that the candidate-completeness guarantee silently breaks
        assert max_hamming < n_bands, (
            f"max_hamming ({max_hamming}) must be < n_bands ({n_bands}) for "
            "the banding recall guarantee"
        )

    _no_fingerprint = ("signature_cache_dir",)

    def _signatures(self, df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        import numpy as np

        toks = widen_partitions(
            df.select(F.col(self.id_col).alias("doc_id"), F.col(self.text_col))
        ).select(
            "doc_id",
            F.array_distinct(tokens_expr(F.col(self.text_col))).alias("tokens"),
        ).filter(F.size("tokens") > 0)
        # token hashes stay JVM-side (xxhash64) on the default family, or
        # come from md5 hex (conv(hex, 16, 10) -> UNSIGNED decimal string,
        # reparsed as uint64 in the kernel) on the SQL-portable family; the
        # 64 per-bit majority votes run vectorized in numpy — as Catalyst
        # expressions they are 64 interpreted array passes per row
        # (higher-order fns don't codegen)
        if self.hash_family == "md5":
            tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 16), 16, 10)  # noqa: E731
        else:
            # wrapper: F.xxhash64 itself is *args-variadic, which
            # F.transform's higher-order signature check rejects
            tok_hash = lambda t: F.xxhash64(t)  # noqa: E731
        hashed = toks.select(
            "doc_id", F.transform("tokens", tok_hash).alias("hashes")
        )
        bits = self.bits
        weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))

        def sig_kernel(batches):
            for series in batches:
                out = []
                for hs in series:
                    # elements are int64 (xxhash) or decimal strings (md5
                    # via conv): normalize through Python int + wraparound
                    H = np.array(
                        [int(h) & 0xFFFFFFFFFFFFFFFF for h in hs],
                        dtype=np.uint64,
                    )
                    bitmat = (H[:, None] >> np.arange(bits, dtype=np.uint64)) & np.uint64(1)
                    votes = bitmat.sum(axis=0) * 2 > len(H)
                    out.append(int((weights[votes].sum(dtype=np.uint64)).astype(np.int64)))
                yield pd.Series(out, dtype="int64")

        sig_kernel.__annotations__ = {
            "batches": Iterator[pd.Series],
            "return": Iterator[pd.Series],
        }
        sig_udf = pandas_udf(sig_kernel, "long")
        return hashed.select("doc_id", sig_udf(F.col("hashes")).alias("simhash"))

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        # the 64-bit-vote signature is the expensive pass and both self-join
        # sides need it: serve it from the fingerprint-keyed Parquet cache
        # (one corpus pass ever, same index-once design as BM25/shingles)
        if self.materialize_signatures:
            import tempfile

            from warp_pipes_spark.core.fingerprint import (
                fingerprint_dataframe,
                get_fingerprint,
            )
            from warp_pipes_spark.pipes.cache import CacheManager

            manager = CacheManager(
                self.signature_cache_dir
                or os.path.join(tempfile.gettempdir(), "warp_pipes_spark_simhash")
            )
            fp = get_fingerprint(
                {
                    "op": "simhash_sig_v1",
                    "corpus": fingerprint_dataframe(df),
                    "id": self.id_col,
                    "text": self.text_col,
                    "bits": self.bits,
                    "hash_family": self.hash_family,
                }
            )
            sig = manager.get_or_compute(
                df.sparkSession, fp, lambda: self._signatures(df)
            )
        else:
            sig = self._signatures(df)
            if self.persist:
                sig = sig.localCheckpoint()
        band_bits = self.bits // self.n_bands
        mask = (1 << band_bits) - 1
        # distinct signatures only: duplicate docs collapse before the
        # quadratic step (hamming depends on signatures alone, so this is
        # a pure optimization for 'pairs' and the whole point of
        # 'sig_edges')
        usig = sig.select("simhash").distinct()
        bands = usig.select(
            "simhash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(
                            F.lit(mask)
                        )
                        for b in range(self.n_bands)
                    ]
                )
            ).alias("band_id", "band_val"),
        )
        a = bands.alias("a")
        b = bands.alias("b")
        xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
        sig_pairs = (
            a.join(b, on=["band_id", "band_val"])
            .where(F.col("a.simhash") < F.col("b.simhash"))
            .select(
                F.col("a.simhash").alias("sig_a"),
                F.col("b.simhash").alias("sig_b"),
            )
            .distinct()
            .withColumn("hamming", F.bit_count(xor).cast("long"))
            .filter(F.col("hamming") <= self.max_hamming)
        )
        if self.output == "sig_edges":
            rep = sig.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
            star = (
                sig.join(rep, "simhash")
                .where(F.col("doc_id") != F.col("rep"))
                .select(
                    F.col("rep").alias("doc_a"),
                    F.col("doc_id").alias("doc_b"),
                    F.lit(0).cast("long").alias("hamming"),
                )
            )
            ra = rep.select(
                F.col("simhash").alias("sig_a"), F.col("rep").alias("rep_a")
            )
            rb = rep.select(
                F.col("simhash").alias("sig_b"), F.col("rep").alias("rep_b")
            )
            cross = (
                sig_pairs.join(ra, "sig_a")
                .join(rb, "sig_b")
                .select(
                    F.least("rep_a", "rep_b").alias("doc_a"),
                    F.greatest("rep_a", "rep_b").alias("doc_b"),
                    "hamming",
                )
            )
            return star.unionByName(cross)
        # 'pairs': expand verified signature pairs back to doc pairs, plus
        # the identical-signature cliques (hamming 0, share every band)
        da = sig.select(F.col("simhash").alias("sig_a"), F.col("doc_id").alias("x"))
        db = sig.select(F.col("simhash").alias("sig_b"), F.col("doc_id").alias("y"))
        same = (
            da.join(
                sig.select(F.col("simhash").alias("sig_a"), F.col("doc_id").alias("y")),
                "sig_a",
            )
            .where(F.col("x") < F.col("y"))
            .select(
                F.col("x").alias("doc_a"),
                F.col("y").alias("doc_b"),
                F.lit(0).cast("long").alias("hamming"),
            )
        )
        cross = (
            sig_pairs.join(da, "sig_a")
            .join(db, "sig_b")
            .select(
                F.least("x", "y").alias("doc_a"),
                F.greatest("x", "y").alias("doc_b"),
                "hamming",
            )
        )
        return same.unionByName(cross)


class DedupClusters(Pipe):
    """Duplicate-CLUSTER formation: connected components over a pair edge
    list — the step after any pair-finding dedup (exact/Jaccard/MinHash/
    SimHash) that turns pairs into keep/drop groups. Input: a DataFrame of
    undirected edges ``(doc_a, doc_b)``; output: ``(doc_id, cluster_id)``
    for every endpoint, where ``cluster_id`` is the smallest doc id in the
    component (the canonical survivor under a keep-min policy).

    Algorithm: iterative min-label propagation with pointer jumping —
    each round every node takes the min of its own label, its neighbors'
    labels, AND its current label's label (path doubling), so label
    distance to the component min roughly halves-then-propagates per
    round: O(log diameter) rounds even on adversarially long chains
    (``shortcut=False`` reverts to plain one-hop propagation =
    O(diameter)). Labels start at the one-hop minimum (node vs its
    neighbors), so star/clique components finish in the first check.
    Per round: two joins + one groupBy (all on the node key) and a 1-row
    aggregate convergence probe (labels only ever DECREASE, so an unchanged
    label sum is exactly the fixpoint — no join-based diff needed);
    ``localCheckpoint`` every ``checkpoint_every`` rounds truncates the
    growing lineage. Duplicate graphs are overwhelmingly tiny cliques/
    chains (diameter 1-3), so rounds stay in single digits even at 100 TB.

    Bounded fast path: once the (deduplicated, persisted) edge list is
    materialized its count is known for free — when it fits comfortably in
    one task (``local_threshold`` edges, default 4M ≈ 64 MB of int64 pairs)
    the components are solved by a single-partition union-find inside ONE
    ``mapInPandas`` task (executor-side, never the driver), replacing
    ~4 stages x O(log d) rounds of scheduling latency with one job. The
    iterative path remains the scale route: at 100 TB the edge list exceeds
    the threshold and label propagation proceeds distributed. Both paths
    produce the identical keep-min labeling (union always roots at the
    smaller id), property-tested equal."""

    def __init__(
        self,
        src_col: str = "doc_a",
        dst_col: str = "doc_b",
        max_iters: int = 20,
        checkpoint_every: int = 5,
        shortcut: bool = True,
        local_threshold: int = 4_000_000,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.src_col = src_col
        self.dst_col = dst_col
        self.max_iters = max_iters
        self.checkpoint_every = checkpoint_every
        self.shortcut = shortcut
        self.local_threshold = local_threshold

    @staticmethod
    def _unionfind_partition(batches):
        """Union-find with path compression over one partition's edges;
        union-by-min keeps every root the smallest id of its component, so
        find(n) is exactly the keep-min cluster id."""
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs == rd:
                    continue
                if rs < rd:
                    parent[rd] = rs
                else:
                    parent[rs] = rd
        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "label": [find(n) for n in nodes]}
        )

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        a, b = F.col(self.src_col), F.col(self.dst_col)
        # both edge directions from ONE scan of the (possibly expensive)
        # upstream pair-finding plan — a union of two selects would
        # re-execute that plan per branch
        edges = (
            df.select(
                F.explode(
                    F.array(
                        F.struct(a.alias("src"), b.alias("dst")),
                        F.struct(b.alias("src"), a.alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        src_type = edges.schema["src"].dataType.simpleString()
        if (
            src_type in ("tinyint", "smallint", "int", "bigint")
            and edges.count() <= self.local_threshold
        ):
            # bounded fast path: all edges in one task, executor-side
            # union-find (see class docstring); count() is free — the
            # persist above already materialized the edge list
            try:
                return (
                    edges.coalesce(1)
                    .mapInPandas(
                        DedupClusters._unionfind_partition,
                        schema=f"node {src_type}, label {src_type}",
                    )
                    .select(
                        F.col("node").alias("doc_id"),
                        F.col("label").alias("cluster_id"),
                    )
                    .localCheckpoint()  # cut lineage; edges can unpersist
                )
            finally:
                edges.unpersist()
        # initialize at the one-hop minimum: label(node) = min(node, min
        # neighbor) — one groupBy, and cliques/stars are already converged
        labels = (
            edges.groupBy(F.col("dst").alias("node"))
            .agg(F.min("src").alias("__nmin"))
            .select("node", F.least(F.col("node"), F.col("__nmin")).alias("label"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        prev_sum = labels.agg(F.sum("label")).collect()[0][0]
        try:
            for it in range(self.max_iters):
                neighbor_min = (
                    edges.join(labels, edges.src == labels.node)
                    .groupBy(F.col("dst").alias("node2"))
                    .agg(F.min("label").alias("nmin"))
                )
                new_labels = (
                    labels.join(
                        neighbor_min, labels.node == neighbor_min.node2, "left"
                    )
                    .select(
                        "node",
                        F.least(
                            F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                        ).alias("label"),
                    )
                )
                if self.shortcut:
                    # pointer jumping: label(u) <- label(label(u)); labels
                    # are nodes, so one self-join doubles the hop distance
                    # covered per round (O(log diameter) total)
                    hops = new_labels.select(
                        F.col("node").alias("p"), F.col("label").alias("plabel")
                    )
                    new_labels = (
                        new_labels.join(hops, new_labels.label == hops.p, "left")
                        .select(
                            "node",
                            F.least(
                                F.col("label"),
                                F.coalesce(F.col("plabel"), F.col("label")),
                            ).alias("label"),
                        )
                    )
                if (it + 1) % self.checkpoint_every == 0:
                    new_labels = new_labels.localCheckpoint(eager=False)
                new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
                # labels are monotonically non-increasing, so the sum is a
                # strictly decreasing potential: unchanged sum == fixpoint
                new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
                labels.unpersist()
                labels = new_labels
                if new_sum == prev_sum:
                    break
                prev_sum = new_sum
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
        finally:
            edges.unpersist()


def dedup_clusters_sql(pairs_sql: str) -> str:
    """DuckDB oracle: transitive reachability via a recursive CTE, component
    id = min node that reaches each node. ``pairs_sql`` must yield
    (doc_a, doc_b)."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({pairs_sql}) t
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, label) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges) s
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
"""


class CrossCorpusOverlap(Pipe):
    """Benchmark-contamination detection: find (train_doc, bench_doc) pairs
    whose n-gram shingle CONTAINMENT |train ∩ bench| / |bench| meets a
    threshold — the standard train/eval decontamination check (the measure
    is asymmetric on purpose: a benchmark item fully quoted inside a long
    training document scores 1.0 regardless of the train doc's length,
    where Jaccard would dilute it).

    Input: the training corpus. ``benchmark``: the (small) eval corpus.
    Plan: explode the benchmark's distinct shingles and BROADCAST them
    (eval suites are bounded — thousands of items — while the train side
    is the 100 TB one); the train side streams map-side through the join,
    so the only shuffle is the candidate (train_id, bench_id) pair count.
    """

    def __init__(
        self,
        benchmark: DataFrame,
        n: int = 3,
        threshold: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
        bench_id_col: str = "doc_id",
        bench_text_col: str = "text",
        materialize_shingles: bool = True,
        shingle_cache_dir: Optional[str] = None,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.benchmark = benchmark
        self.n = n
        self.threshold = threshold
        self.id_col = id_col
        self.text_col = text_col
        self.bench_id_col = bench_id_col
        self.bench_text_col = bench_text_col
        self.materialize_shingles = materialize_shingles
        self.shingle_cache_dir = shingle_cache_dir

    _no_fingerprint = ("benchmark", "shingle_cache_dir")

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        # benchmark side: small by contract — vectorized kernel, in-plan
        bench = self.benchmark.select(
            F.col(self.bench_id_col).alias("bench_id"),
            shingles_udf(self.n)(F.col(self.bench_text_col)).alias("shingles"),
        ).localCheckpoint()
        bench_sizes = bench.select(
            "bench_id", F.size("shingles").alias("n_bench")
        ).filter(F.col("n_bench") > 0)
        bench_inv = bench.select(
            "bench_id", F.explode("shingles").alias("shingle")
        )
        # train side: the 100 TB side — served from the shared shingle cache
        train_inv = shingle_table(
            df,
            self.n,
            self.id_col,
            self.text_col,
            materialize=self.materialize_shingles,
            cache_dir=self.shingle_cache_dir,
        ).select(
            F.col("doc_id").alias("train_id"),
            F.explode("shingles").alias("shingle"),
        )
        pairs = (
            train_inv.join(F.broadcast(bench_inv), "shingle")
            .groupBy("train_id", "bench_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .join(F.broadcast(bench_sizes), "bench_id")
            .withColumn(
                "containment",
                (F.col("n_common") / F.col("n_bench"))
                .cast("decimal(18,6)")
                .cast("double"),
            )
            .filter(F.col("containment") >= F.lit(self.threshold))
        )
        return pairs.select("train_id", "bench_id", "n_common", "containment")


def cross_corpus_overlap_sql(
    train_sql: str,
    bench_sql: str,
    n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle for :class:`CrossCorpusOverlap`. ``train_sql`` /
    ``bench_sql`` must yield (doc_id, text)."""
    sh = shingles_sql("text", n)
    return f"""
WITH train AS (
  SELECT doc_id AS train_id, {sh} AS shingles FROM ({train_sql}) t
), bench AS (
  SELECT doc_id AS bench_id, {sh} AS shingles FROM ({bench_sql}) b
), bench_sizes AS (
  SELECT bench_id, len(shingles) AS n_bench FROM bench WHERE len(shingles) > 0
), train_inv AS (
  SELECT train_id, unnest(shingles) AS shingle FROM train
), bench_inv AS (
  SELECT bench_id, unnest(shingles) AS shingle FROM bench
), pairs AS (
  SELECT train_id, bench_id, COUNT(*) AS n_common
  FROM train_inv JOIN bench_inv USING (shingle)
  GROUP BY train_id, bench_id
)
SELECT train_id, bench_id, n_common,
       CAST(CAST(n_common / n_bench AS DECIMAL(18,6)) AS DOUBLE) AS containment
FROM pairs JOIN bench_sizes USING (bench_id)
WHERE CAST(CAST(n_common / n_bench AS DECIMAL(18,6)) AS DOUBLE) >= {threshold}
"""


class Decontaminate(Pipe):
    """Train/eval decontamination — the ACTING step after
    :class:`CrossCorpusOverlap`'s detection: every training document whose
    shingle containment of ANY benchmark item meets the threshold is
    flagged, and the corpus comes back annotated (``keep`` boolean plus
    the evidence: ``max_containment``, ``n_bench_hits``) or filtered to
    survivors (``mode='filter'``). This is the standard pre-training
    hygiene pass (GPT-3 appendix C / PaLM-style n-gram decontamination)
    run before any eval is trusted.

    Plan shape: detection inherits CrossCorpusOverlap's broadcast
    asymmetry (bounded eval suite broadcast, 100 TB train side streams
    map-side); the verdict join-back keys on doc_id — flagged docs are
    the small minority, so the flags side broadcasts too."""

    def __init__(
        self,
        benchmark: DataFrame,
        n: int = 3,
        threshold: float = 0.5,
        mode: str = "annotate",
        id_col: str = "doc_id",
        text_col: str = "text",
        bench_id_col: str = "doc_id",
        bench_text_col: str = "text",
        **kwargs,
    ):
        if mode not in ("annotate", "filter"):
            raise ValueError(f"mode must be 'annotate' or 'filter', got {mode!r}")
        super().__init__(**kwargs)
        self.benchmark = benchmark
        self.n = n
        self.threshold = threshold
        self.mode = mode
        self.id_col = id_col
        self.text_col = text_col
        self.bench_id_col = bench_id_col
        self.bench_text_col = bench_text_col

    _no_fingerprint = ("benchmark",)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        pairs = CrossCorpusOverlap(
            benchmark=self.benchmark,
            n=self.n,
            threshold=self.threshold,
            id_col=self.id_col,
            text_col=self.text_col,
            bench_id_col=self.bench_id_col,
            bench_text_col=self.bench_text_col,
        )(df)
        flags = pairs.groupBy("train_id").agg(
            F.max("containment").alias("max_containment"),
            F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
        )
        out = (
            df.join(
                F.broadcast(flags),
                df[self.id_col] == flags["train_id"],
                "left",
            )
            .withColumn("keep", F.col("train_id").isNull())
            .withColumn(
                "max_containment",
                F.coalesce(F.col("max_containment"), F.lit(0.0)).cast("double"),
            )
            .withColumn(
                "n_bench_hits", F.coalesce(F.col("n_bench_hits"), F.lit(0))
            )
            .drop("train_id")
        )
        if self.mode == "filter":
            return out.filter(F.col("keep")).drop(
                "keep", "max_containment", "n_bench_hits"
            )
        return out


def decontaminate_sql(
    train_sql: str,
    bench_sql: str,
    n: int = 3,
    threshold: float = 0.5,
    train_cols: str = "doc_id, source",
) -> str:
    """DuckDB oracle for :class:`Decontaminate` (annotate mode):
    composes :func:`cross_corpus_overlap_sql` with the per-train-doc
    verdict rollup. ``train_cols`` are the passthrough columns of
    ``train_sql``'s output (must include doc_id)."""
    pairs = cross_corpus_overlap_sql(train_sql, bench_sql, n, threshold)
    cols = ", ".join(f"t.{c.strip()}" for c in train_cols.split(","))
    return f"""
WITH pairs AS ({pairs}),
flags AS (
  SELECT train_id, MAX(containment) AS max_containment,
         CAST(COUNT(*) AS BIGINT) AS n_bench_hits
  FROM pairs GROUP BY train_id
)
SELECT {cols},
       CAST(COALESCE(f.max_containment, 0.0) AS DOUBLE) AS max_containment,
       COALESCE(f.n_bench_hits, 0) AS n_bench_hits,
       f.train_id IS NULL AS keep
FROM ({train_sql}) t LEFT JOIN flags f ON t.doc_id = f.train_id
"""


class SentenceDedup(Pipe):
    """Corpus-level exact SENTENCE dedup (the CCNet recipe): split every
    document into sentences, keep only the globally-first occurrence of each
    distinct sentence (first = smallest (doc_id, sent_idx)), and reassemble
    each document from its surviving sentences in original order.

    Scale shape: one shuffle keyed on the sentence string with full map-side
    partial aggregation (``groupBy(sentence).min(struct(doc_id, sent_idx))``
    — the aggregated row IS the survivor, so there is no window over the
    sentence partition and no join back to the exploded table), then one
    shuffle on doc_id to reassemble. Duplicate-heavy corpora collapse
    map-side before the exchange, which is exactly the workload's skew
    profile (boilerplate sentences repeat millions of times at 100 TB).
    Documents whose every sentence was claimed by an earlier document drop
    out of the result (they deduplicate to nothing).
    """

    def __init__(
        self,
        id_col: str = "doc_id",
        text_col: str = "text",
        joiner: str = " ",
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.id_col = id_col
        self.text_col = text_col
        self.joiner = joiner

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        from warp_pipes_spark.text.analysis import SentenceSplit

        sents = SentenceSplit(id_col=self.id_col, text_col=self.text_col)(df)
        survivors = (
            sents.groupBy("sentence")
            .agg(F.min(F.struct(F.col("doc_id"), F.col("sent_idx"))).alias("m"))
            .select(F.col("m.doc_id").alias("doc_id"), F.col("m.sent_idx").alias("sent_idx"), "sentence")
        )
        return (
            survivors.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("sent_idx", "sentence"))),
                        lambda s: s["sentence"],
                    ),
                    self.joiner,
                ).alias("text"),
            )
        )


def sentence_dedup_sql(
    table: str = "documents", id_col: str = "doc_id", text: str = "text",
    joiner: str = " ",
) -> str:
    """DuckDB oracle: identical split + first-occurrence rule, expressed with
    a window (the oracle needs correctness, not the engine's agg shape)."""
    from warp_pipes_spark.text.analysis import sentence_split_sql

    inner = sentence_split_sql(table=table, id_col=id_col, text=text)
    return f"""
WITH sents AS ({inner}), kept AS (
  SELECT {id_col} AS doc_id, sent_idx, sentence,
         ROW_NUMBER() OVER (PARTITION BY sentence ORDER BY {id_col}, sent_idx) AS rn
  FROM sents
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       string_agg(sentence, '{joiner}' ORDER BY sent_idx) AS text
FROM kept WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id
"""


class IncrementalDedup(Pipe):
    """Dedup a NEW batch against an EXISTING corpus — the daily-increment
    shape of a crawl pipeline: the corpus is already deduplicated; each
    arriving batch keeps only documents whose content fingerprint does not
    yet exist in the corpus.

    Spark-first formulation: compute the rolling-hash content fingerprint
    (``DocFingerprint``, a pure codegen'd expression) on both sides, then
    LEFT ANTI join batch->corpus on the 8-byte fingerprint. At 100 TB the
    anti join shuffles only (fp) pairs — 8 bytes per corpus doc, not the
    text — and Spark's runtime Bloom-filter join pushdown (enabled in
    ``session.get_spark``) prunes most batch rows at the scan when the
    corpus side is large. Within-batch duplicates also collapse (keep-min
    doc_id), so output is dedup-clean against corpus AND batch.
    """

    def __init__(
        self,
        corpus: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.corpus = corpus
        self.id_col = id_col
        self.text_col = text_col

    _no_fingerprint = ("corpus",)

    def _fp(self, df: DataFrame) -> DataFrame:
        from warp_pipes_spark.text.analysis import DocFingerprint

        return DocFingerprint(text_col=self.text_col, out_col="__fp")(df)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        batch = self._fp(df)
        corpus_fps = self._fp(
            self.corpus.select(F.col(self.text_col))
        ).select("__fp").distinct()
        fresh = batch.join(corpus_fps, "__fp", "left_anti")
        w_min = (
            fresh.groupBy("__fp")
            .agg(F.min(F.col(self.id_col)).alias(self.id_col))
        )
        return (
            fresh.join(w_min, ["__fp", self.id_col], "left_semi")
            .drop("__fp")
        )


def incremental_dedup_sql(
    corpus_sql: str, batch_sql: str, text: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB oracle: NOT EXISTS on the same rolling-hash fingerprint, plus
    the keep-min within-batch collapse."""
    from warp_pipes_spark.text.analysis import doc_fingerprint_sql

    fp = doc_fingerprint_sql(text)
    return f"""
WITH corpus_fp AS (
  SELECT DISTINCT {fp} AS fp FROM ({corpus_sql}) c
), batch_fp AS (
  SELECT b.*, {fp} AS fp FROM ({batch_sql}) b
), fresh AS (
  SELECT * FROM batch_fp WHERE fp NOT IN (SELECT fp FROM corpus_fp)
), keep AS (
  SELECT fp, MIN({id_col}) AS {id_col} FROM fresh GROUP BY 1
)
SELECT fresh.* EXCLUDE (fp)
FROM fresh JOIN keep USING (fp, {id_col})
"""


def plan_barrier(df: DataFrame) -> DataFrame:
    """Optimization barrier for a reused intermediate.

    Default is a lazy ``localCheckpoint``: RDD-level storage that never
    registers in the session CacheManager (so ``clearCache`` hygiene
    stays truthful) and is released by GC once the plan is dropped.
    ``localCheckpoint`` is documented-unsafe under executor loss or
    dynamic allocation — a real-cluster deployment that needs
    fault-tolerant barriers sets ``spark.wps.barrier.reliable=true``
    (plus ``sc.setCheckpointDir``) to switch every barrier to a
    reliable checkpoint with the same plan semantics."""
    spark = df.sparkSession
    if (
        spark.conf.get("spark.wps.barrier.reliable", "false").lower()
        == "true"
    ):
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def _token_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Widened, checkpoint-barriered (doc_id, __t) token table for the
    gram-stage operators. The barrier matters: Catalyst's projection
    collapse re-inlines the tokenize expression into the downstream
    per-gram lambda / per-position projection, re-tokenizing the document
    once per gram (measured 6x at sf0.1); a single-file local read would
    additionally run the whole gram stage on one core. The lazy
    localCheckpoint materializes tokens exactly once at first action —
    the gram table built right on top of it is the dominant intermediate
    of every caller, so the barrier adds no new cost class."""
    return plan_barrier(
        widen_partitions(
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        ).select("doc_id", tokens_expr(F.col(text_col)).alias("__t"))
    )


class DupNgramFraction(Pipe):
    """Cross-document duplicated-span signal: the fraction of each
    document's token n-gram positions whose n-gram also appears in at
    least one OTHER document. This is the scalable relaxation of exact
    substring deduplication (the suffix-array recipe of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): a long verbatim shared span of length L covers
    ~L-n+1 overlapping duplicated n-grams, so ``dup_frac`` closely tracks
    the duplicated-span coverage a suffix array would report, with only
    counting machinery — no global sort, no suffix structures.

    Distinct from :class:`~warp_pipes_spark.text.analysis.RepetitionScore`
    (q62), which measures WITHIN-document repetition; a gram repeated
    inside one document only does not count here (df = distinct docs).

    Plan shape: explode to (doc, gram-key) — the key is ``md5`` of the
    joined gram, so the shuffle carries a fixed-width key, not the text;
    md5 is bit-identical in Spark and DuckDB, keeping the oracle exact —
    then one vocabulary-sized distinct-doc count, one join back, one
    per-doc count. At 100 TB the gram table is the big intermediate; the
    df table it reduces to is vocabulary-sized, and ``min_df`` documents
    why a Bloom-side pre-filter drops the join traffic when only heavily
    duplicated spans matter."""

    def __init__(
        self,
        n: int = 5,
        text_col: str = "text",
        id_col: str = "doc_id",
        min_df: int = 2,
        **kwargs,
    ):
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        if min_df < 2:
            raise ValueError(f"min_df counts OTHER docs too: >= 2, got {min_df}")
        super().__init__(**kwargs)
        self.n = n
        self.text_col = text_col
        self.id_col = id_col
        self.min_df = min_df

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        n = self.n
        base = _token_table(df, self.id_col, self.text_col)
        starts = F.when(
            F.size("__t") >= n, F.sequence(F.lit(1), F.size("__t") - n + 1)
        ).otherwise(F.array().cast("array<int>"))
        grams = base.select(
            "doc_id",
            F.size("__t").alias("__ntok"),
            F.transform(
                starts, lambda i: F.md5(F.array_join(F.slice("__t", i, n), " "))
            ).alias("__grams"),
        )
        gram_rows = grams.select(
            "doc_id", F.explode("__grams").alias("gram")
        )
        dfc = gram_rows.groupBy("gram").agg(
            F.countDistinct("doc_id").alias("__df")
        )
        dup = (
            gram_rows.join(dfc.filter(F.col("__df") >= self.min_df), "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("__ndup"))
        )
        return (
            grams.join(dup, "doc_id", "left")
            .select(
                F.col("doc_id").alias(self.id_col),
                F.greatest(F.col("__ntok") - n + 1, F.lit(0))
                .cast("long")
                .alias("n_grams"),
                F.coalesce(F.col("__ndup"), F.lit(0)).cast("long").alias("n_dup"),
                F.when(F.col("__ntok") >= n,
                       F.coalesce(F.col("__ndup"), F.lit(0))
                       / (F.col("__ntok") - n + 1))
                .otherwise(F.lit(0.0))
                .cast("double")
                .alias("dup_frac"),
            )
        )


def dup_ngram_sql(
    table: str = "documents",
    n: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> str:
    """DuckDB oracle for :class:`DupNgramFraction` — same md5 gram keys
    (md5 is bit-identical across the engines), same df threshold."""
    return f"""
WITH toks AS (
  SELECT {id_col}, {tokens_sql(text)} AS t FROM {table}
), g AS (
  SELECT {id_col}, md5(array_to_string(t[u.i:u.i + {n - 1}], ' ')) AS gram
  FROM toks, UNNEST(CASE WHEN len(t) >= {n}
                         THEN range(1, len(t) - {n} + 2)
                         ELSE [] END) AS u(i)
), dfc AS (
  SELECT gram, COUNT(DISTINCT {id_col}) AS df FROM g GROUP BY 1
), dup AS (
  SELECT g.{id_col}, COUNT(*) AS n_dup
  FROM g JOIN dfc USING (gram) WHERE dfc.df >= {min_df} GROUP BY 1
)
SELECT toks.{id_col},
       CAST(GREATEST(len(t) - {n} + 1, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(dup.n_dup, 0) AS BIGINT) AS n_dup,
       CAST(CASE WHEN len(t) >= {n}
                 THEN COALESCE(dup.n_dup, 0) * 1.0 / (len(t) - {n} + 1)
                 ELSE 0.0 END AS DOUBLE) AS dup_frac
FROM toks LEFT JOIN dup USING ({id_col})
"""


class Winnowing(Pipe):
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every token k-gram, slide a window of w consecutive
    gram hashes over each document, and select the minimum hash per window
    (rightmost on ties). The selected ~2/(w+1) fraction of grams is a
    position-robust fingerprint set: any shared substring of at least
    w + k - 1 tokens is GUARANTEED to share at least one selected
    fingerprint — the recall guarantee MinHash can't give for substrings.

    Output: one row per document — ``n_grams``, ``n_fp`` (selected
    fingerprints), ``n_shared`` (selected fingerprints also selected in at
    least one OTHER document — the winnowed-containment dedup signal).

    Plan shape: gram hashing is scan-level (``md5`` of the joined gram —
    fixed-width, engine-identical); selection is ONE doc-keyed window
    pass; the sharing signal is one vocabulary-sized df aggregation plus a
    join back — the q104 shape over the winnowed subset (w+1 times fewer
    rows than the full gram table, which is the point at 100 TB).

    Argmin-with-rightmost-tie is encoded PORTABLY as a string min:
    ``md5hex || '|' || zero_padded(10^9 - pos)`` — min string = min hash,
    tie -> max position; both engines compare fixed-width ASCII
    identically, so no struct-ordering semantics are relied on.

    Documents with fewer than w grams yield no window, hence no
    fingerprints (n_fp = 0) — documented edge, identical in the oracle.
    """

    def __init__(
        self,
        k: int = 3,
        w: int = 4,
        text_col: str = "text",
        id_col: str = "doc_id",
        **kwargs,
    ):
        if k < 1 or w < 1:
            raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
        super().__init__(**kwargs)
        self.k = k
        self.w = w
        self.text_col = text_col
        self.id_col = id_col

    def _fingerprints(self, df: DataFrame) -> DataFrame:
        """(doc_id, fp_hash, fp_pos) — the distinct selected fingerprints."""
        from pyspark.sql import Window as W

        k, w = self.k, self.w
        base = _token_table(df, self.id_col, self.text_col)
        starts = F.when(
            F.size("__t") >= k, F.sequence(F.lit(1), F.size("__t") - k + 1)
        ).otherwise(F.array().cast("array<int>"))
        grams = base.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    starts,
                    lambda i: F.md5(F.array_join(F.slice("__t", i, k), " ")),
                )
            ).alias("__p0", "__h"),
        ).select(
            "doc_id",
            (F.col("__p0") + 1).alias("pos"),
            F.concat(
                F.col("__h"),
                F.lit("|"),
                F.lpad((F.lit(1_000_000_000) - (F.col("__p0") + 1)).cast("string"), 10, "0"),
            ).alias("__key"),
        )
        win = (
            W.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(-(w - 1), 0)
        )
        sel = (
            grams.withColumn("__m", F.min("__key").over(win))
            .filter(F.col("pos") >= w)  # full windows only
            .select(
                "doc_id",
                F.substring("__m", 1, 32).alias("fp_hash"),
                (
                    F.lit(1_000_000_000)
                    - F.substring("__m", 34, 10).cast("long")
                ).alias("fp_pos"),
            )
            .distinct()
        )
        return sel

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        k = self.k
        toks = tokens_expr(F.col(self.text_col))
        n_grams = df.select(
            F.col(self.id_col).alias("doc_id"),
            F.greatest(F.size(toks) - k + 1, F.lit(0)).cast("long").alias("n_grams"),
        )
        fps = self._fingerprints(df)
        dfc = fps.groupBy("fp_hash").agg(
            F.countDistinct("doc_id").alias("__df")
        )
        per_doc = fps.join(dfc, "fp_hash").groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
        return n_grams.join(per_doc, "doc_id", "left").select(
            F.col("doc_id").alias(self.id_col),
            "n_grams",
            F.coalesce(F.col("n_fp"), F.lit(0)).cast("long").alias("n_fp"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        )


def winnowing_sql(
    table: str = "documents",
    k: int = 3,
    w: int = 4,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :class:`Winnowing` — identical hash, window,
    string-encoded argmin, and aggregation discipline."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {tokens_sql(text)} AS t FROM {table}
), g AS (
  SELECT doc_id, u.i AS pos,
         md5(array_to_string(t[u.i:u.i + {k - 1}], ' ')) || '|' ||
             lpad(CAST(1000000000 - u.i AS VARCHAR), 10, '0') AS key
  FROM toks, UNNEST(CASE WHEN len(t) >= {k}
                         THEN range(1, len(t) - {k} + 2)
                         ELSE [] END) AS u(i)
), sel AS (
  SELECT DISTINCT doc_id,
         substr(m, 1, 32) AS fp_hash,
         1000000000 - CAST(substr(m, 34, 10) AS BIGINT) AS fp_pos
  FROM (
    SELECT doc_id, pos,
           MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS m
    FROM g
  ) WHERE pos >= {w}
), dfc AS (
  SELECT fp_hash, COUNT(DISTINCT doc_id) AS df FROM sel GROUP BY 1
), per_doc AS (
  SELECT sel.doc_id, COUNT(*) AS n_fp,
         SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM sel JOIN dfc USING (fp_hash) GROUP BY 1
)
SELECT toks.doc_id AS {id_col},
       CAST(GREATEST(len(t) - {k} + 1, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(per_doc.n_fp, 0) AS BIGINT) AS n_fp,
       CAST(COALESCE(per_doc.n_shared, 0) AS BIGINT) AS n_shared
FROM toks LEFT JOIN per_doc USING (doc_id)
"""


class DupSpanRemoval(Pipe):
    """Cross-document duplicated-span REMOVAL — the acting step after
    :class:`DupNgramFraction`'s measurement, completing the exact-substring
    dedup recipe of Lee et al. 2022 (arXiv:2107.06499) in counting form:
    every token position covered by any n-gram that appears in >= ``min_df``
    distinct documents is dropped, and the document re-assembles from the
    surviving tokens (overlapping duplicated grams merge into one removed
    span automatically, because removal is position-wise).

    Output: ``(doc_id, n_tokens, n_removed, clean_text)`` for every input
    row — untouched docs pass through with ``n_removed = 0``.

    Plan shape: the gram table (fixed-width md5 keys) and its
    vocabulary-sized df rollup are exactly q104's; the only additions are a
    bounded n-way position fan-out on the DUPLICATED starts only (at 100 TB
    duplicated grams are the small minority — the fan-out is sized by dup
    volume, not corpus volume) and one per-doc covered-set aggregation.
    Token re-assembly is an executor-local array filter against the
    covered-position set — no per-token rows ever shuffle."""

    def __init__(
        self,
        n: int = 5,
        text_col: str = "text",
        id_col: str = "doc_id",
        min_df: int = 2,
        **kwargs,
    ):
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        if min_df < 2:
            raise ValueError(f"min_df counts OTHER docs too: >= 2, got {min_df}")
        super().__init__(**kwargs)
        self.n = n
        self.text_col = text_col
        self.id_col = id_col
        self.min_df = min_df

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        n = self.n
        base = _token_table(df, self.id_col, self.text_col)
        starts = F.when(
            F.size("__t") >= n, F.sequence(F.lit(1), F.size("__t") - n + 1)
        ).otherwise(F.array().cast("array<int>"))
        gram_rows = base.select(
            "doc_id", F.explode(starts).alias("s"), F.col("__t")
        ).select(
            "doc_id",
            "s",
            F.md5(F.array_join(F.slice("__t", F.col("s"), n), " ")).alias("gram"),
        )
        dfc = gram_rows.groupBy("gram").agg(
            F.countDistinct("doc_id").alias("__df")
        )
        dup_starts = gram_rows.join(
            dfc.filter(F.col("__df") >= self.min_df), "gram"
        ).select("doc_id", "s")
        covered = (
            dup_starts.select(
                "doc_id",
                F.explode(F.sequence(F.col("s"), F.col("s") + n - 1)).alias("p"),
            )
            # collect_set dedupes with map-side partial aggregation; a
            # distinct here would re-shuffle the exploded positions
            .groupBy("doc_id")
            .agg(F.collect_set("p").alias("__cov"))
        )
        with_cov = base.join(covered, "doc_id", "left").withColumn(
            "__cov", F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
        )
        indexed = F.transform(
            F.col("__t"),
            lambda x, i: F.struct((i + F.lit(1)).alias("p"), x.alias("tok")),
        )
        kept = F.filter(
            indexed, lambda st: ~F.array_contains(F.col("__cov"), st["p"])
        )
        return with_cov.select(
            F.col("doc_id").alias(self.id_col),
            F.size("__t").cast("long").alias("n_tokens"),
            F.size("__cov").cast("long").alias("n_removed"),
            F.array_join(
                F.transform(kept, lambda st: st["tok"]), " "
            ).alias("clean_text"),
        )


def dup_span_removal_sql(
    table: str = "documents",
    n: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> str:
    """DuckDB oracle for :class:`DupSpanRemoval` — identical md5 gram keys,
    identical position-coverage rule, re-assembly via ordered string_agg."""
    return f"""
WITH toks AS (
  SELECT {id_col}, {tokens_sql(text)} AS t FROM {table}
), g AS (
  SELECT {id_col}, u.i AS s,
         md5(array_to_string(t[u.i:u.i + {n - 1}], ' ')) AS gram
  FROM toks, UNNEST(CASE WHEN len(t) >= {n}
                         THEN range(1, len(t) - {n} + 2)
                         ELSE [] END) AS u(i)
), dfc AS (
  SELECT gram, COUNT(DISTINCT {id_col}) AS df FROM g GROUP BY 1
), dups AS (
  SELECT g.{id_col}, g.s FROM g JOIN dfc USING (gram) WHERE dfc.df >= {min_df}
), cov AS (
  SELECT DISTINCT {id_col}, s + o.j AS p
  FROM dups, UNNEST(range(0, {n})) AS o(j)
), pos AS (
  SELECT {id_col}, u.i AS p, t[u.i] AS tok
  FROM toks, UNNEST(CASE WHEN len(t) >= 1 THEN range(1, len(t) + 1)
                         ELSE [] END) AS u(i)
), kept AS (
  SELECT pos.{id_col}, pos.p, pos.tok
  FROM pos LEFT JOIN cov ON pos.{id_col} = cov.{id_col} AND pos.p = cov.p
  WHERE cov.p IS NULL
), clean AS (
  SELECT {id_col}, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY 1
), ncov AS (
  SELECT {id_col}, COUNT(*) AS n_removed FROM cov GROUP BY 1
)
SELECT toks.{id_col},
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(ncov.n_removed, 0) AS BIGINT) AS n_removed,
       COALESCE(clean.clean_text, '') AS clean_text
FROM toks
LEFT JOIN clean USING ({id_col})
LEFT JOIN ncov USING ({id_col})
"""


class MaximalSpanDedup(Pipe):
    """Full-strength exact-substring dedup (Lee et al. 2022,
    arXiv:2107.06499 — the deduplicate-text-datasets capability): every
    MAXIMAL span of >= ``min_len`` consecutive tokens that occurs more
    than once in the corpus — ANY second occurrence, including a repeat
    inside the same document — is reported with its exact boundaries and
    removed.

    Equivalence to the suffix-array formulation: a substring of length
    exactly ``min_len`` occurring twice IS a duplicated ``min_len``-gram,
    and every longer duplicated substring is covered by the duplicated
    ``min_len``-grams inside it; so positions-covered-by-duplicated-grams
    equals positions-covered-by-duplicated-substrings(>= min_len), and the
    maximal covered islands are the maximal removable spans. The suffix
    array is the reference tool's *efficiency* device on one machine; on
    Spark the same answer falls out of a gram groupBy — fully
    distributed, no global sort, no suffix construction.

    Differences from :class:`DupSpanRemoval` (q130's counting relaxation):
    occurrence counting is TOTAL (``count(*) >= min_count``), not
    distinct-document, so a passage pasted twice into one document is
    caught; and the maximal spans themselves are first-class output
    (``span_starts`` / ``span_ends``, 1-based inclusive token positions).

    Output per input row: ``(doc_id, n_tokens, span_starts, span_ends,
    n_spans, n_removed, clean_text)``.

    Plan shape at 100 TB: one gram-table groupBy (fixed-width md5 keys,
    map-side combined count), a join back on the DUPLICATED grams only
    (the small minority — fan-out is sized by duplicated volume), one
    per-doc covered-set aggregation, then pure array expressions: island
    boundaries come from comparing the sorted covered array against its
    shifted self — no per-position shuffle rows, no windows."""

    def __init__(
        self,
        min_len: int = 10,
        text_col: str = "text",
        id_col: str = "doc_id",
        min_count: int = 2,
        **kwargs,
    ):
        if min_len < 1:
            raise ValueError(f"min_len must be >= 1, got {min_len}")
        if min_count < 2:
            raise ValueError(f"a span must occur at least twice: min_count >= 2, got {min_count}")
        super().__init__(**kwargs)
        self.min_len = min_len
        self.text_col = text_col
        self.id_col = id_col
        self.min_count = min_count

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        n = self.min_len
        base = _token_table(df, self.id_col, self.text_col)
        starts = F.when(
            F.size("__t") >= n, F.sequence(F.lit(1), F.size("__t") - n + 1)
        ).otherwise(F.array().cast("array<int>"))
        gram_rows = base.select(
            "doc_id", F.explode(starts).alias("s"), F.col("__t")
        ).select(
            "doc_id",
            "s",
            F.md5(F.array_join(F.slice("__t", F.col("s"), n), " ")).alias("gram"),
        )
        # TOTAL occurrences (not distinct docs): within-doc repeats count
        cnt = gram_rows.groupBy("gram").agg(F.count(F.lit(1)).alias("__c"))
        dup_starts = gram_rows.join(
            cnt.filter(F.col("__c") >= self.min_count), "gram"
        ).select("doc_id", "s")
        covered = (
            dup_starts.select(
                "doc_id",
                F.explode(F.sequence(F.col("s"), F.col("s") + n - 1)).alias("p"),
            )
            # no .distinct() here: collect_set already dedupes with
            # map-side partial aggregation — a distinct would shuffle the
            # exploded positions (the operator's largest intermediate) a
            # second time for no semantic effect
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("p")).alias("__cov"))
        )
        with_cov = base.join(covered, "doc_id", "left").withColumn(
            "__cov", F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
        )
        cov = F.col("__cov")
        # island boundaries: position p starts a span iff p-1 is not
        # covered; ends one iff p+1 is not covered. Sorted-array shifts,
        # no window, no extra shuffle.
        span_starts = F.filter(
            cov,
            lambda x, i: F.when(i == 0, F.lit(True)).otherwise(
                F.element_at(cov, i) != x - 1
            ),
        )
        span_ends = F.filter(
            cov,
            lambda x, i: F.when(i == F.size(cov) - 1, F.lit(True)).otherwise(
                F.element_at(cov, i + 2) != x + 1
            ),
        )
        indexed = F.transform(
            F.col("__t"),
            lambda x, i: F.struct((i + F.lit(1)).alias("p"), x.alias("tok")),
        )
        kept = F.filter(
            indexed, lambda st: ~F.array_contains(cov, st["p"])
        )
        return with_cov.select(
            F.col("doc_id").alias(self.id_col),
            F.size("__t").cast("long").alias("n_tokens"),
            span_starts.alias("span_starts"),
            span_ends.alias("span_ends"),
            F.size(span_starts).cast("long").alias("n_spans"),
            F.size(cov).cast("long").alias("n_removed"),
            F.array_join(
                F.transform(kept, lambda st: st["tok"]), " "
            ).alias("clean_text"),
        )


def maximal_span_sql(
    table: str = "documents",
    min_len: int = 10,
    text: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> str:
    """DuckDB oracle for :class:`MaximalSpanDedup` — identical md5 gram
    keys, identical total-occurrence rule, maximal islands via the
    gaps-and-islands window, re-assembly via ordered string_agg."""
    return f"""
WITH toks AS (
  SELECT {id_col}, {tokens_sql(text)} AS t FROM {table}
), g AS (
  SELECT {id_col}, u.i AS s,
         md5(array_to_string(t[u.i:u.i + {min_len - 1}], ' ')) AS gram
  FROM toks, UNNEST(CASE WHEN len(t) >= {min_len}
                         THEN range(1, len(t) - {min_len} + 2)
                         ELSE [] END) AS u(i)
), cnt AS (
  SELECT gram, COUNT(*) AS c FROM g GROUP BY 1
), dups AS (
  SELECT g.{id_col}, g.s FROM g JOIN cnt USING (gram) WHERE cnt.c >= {min_count}
), cov AS (
  SELECT DISTINCT {id_col}, s + o.j AS p
  FROM dups, UNNEST(range(0, {min_len})) AS o(j)
), isl AS (
  SELECT {id_col}, p,
         p - ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY p) AS k
  FROM cov
), spans AS (
  SELECT {id_col}, MIN(p) AS st, MAX(p) AS en FROM isl GROUP BY {id_col}, k
), per_doc AS (
  SELECT {id_col},
         list_transform(list(st ORDER BY st), x -> CAST(x AS INTEGER)) AS span_starts,
         list_transform(list(en ORDER BY st), x -> CAST(x AS INTEGER)) AS span_ends,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(en - st + 1) AS BIGINT) AS n_removed
  FROM spans GROUP BY {id_col}
), pos AS (
  SELECT {id_col}, u.i AS p, t[u.i] AS tok
  FROM toks, UNNEST(CASE WHEN len(t) >= 1 THEN range(1, len(t) + 1)
                         ELSE [] END) AS u(i)
), kept AS (
  SELECT pos.{id_col}, pos.p, pos.tok
  FROM pos LEFT JOIN cov ON pos.{id_col} = cov.{id_col} AND pos.p = cov.p
  WHERE cov.p IS NULL
), clean AS (
  SELECT {id_col}, string_agg(tok, ' ' ORDER BY p) AS clean_text
  FROM kept GROUP BY 1
)
SELECT toks.{id_col},
       CAST(len(t) AS BIGINT) AS n_tokens,
       COALESCE(per_doc.span_starts, []::INTEGER[]) AS span_starts,
       COALESCE(per_doc.span_ends, []::INTEGER[]) AS span_ends,
       COALESCE(per_doc.n_spans, 0) AS n_spans,
       COALESCE(per_doc.n_removed, 0) AS n_removed,
       COALESCE(clean.clean_text, '') AS clean_text
FROM toks
LEFT JOIN per_doc USING ({id_col})
LEFT JOIN clean USING ({id_col})
"""




def incremental_minhash_sql(
    new_sql: str,
    corpus_sql: str,
    n: int = 3,
    n_hashes: int = 32,
    band_size: int = 4,
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle for :class:`IncrementalMinHashDedup` with
    ``hash_family='md5'``: identical string-min signatures, identical
    joined-slice band keys, cross-side (new x corpus) bucket join, exact
    Jaccard verify. ``new_sql`` / ``corpus_sql`` must yield
    (doc_id, text)."""
    sh = shingles_sql("text", n)
    n_bands = n_hashes // band_size
    band_key = " || '|' || ".join(
        f"sig[{{b}} * {band_size} + {i + 1}]" for i in range(band_size)
    )
    sig_expr = (
        f"list_transform(generate_series(0, {n_hashes - 1}), i -> "
        f"list_min(list_transform(shingles, s -> "
        f"substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 16))))"
    )
    return f"""
WITH new_docs AS (
  SELECT doc_id, {sh} AS shingles FROM ({new_sql}) t
),
old_docs AS (
  SELECT doc_id, {sh} AS shingles FROM ({corpus_sql}) t
),
new_ne AS (SELECT * FROM new_docs WHERE len(shingles) > 0),
old_ne AS (SELECT * FROM old_docs WHERE len(shingles) > 0),
new_sig AS (SELECT doc_id, shingles, {sig_expr} AS sig FROM new_ne),
old_sig AS (SELECT doc_id, shingles, {sig_expr} AS sig FROM old_ne),
new_bands AS (
  SELECT doc_id, g.b AS band_id, {band_key.format(b='g.b')} AS band_hash
  FROM new_sig CROSS JOIN generate_series(0, {n_bands - 1}) g(b)
),
old_bands AS (
  SELECT doc_id, g.b AS band_id, {band_key.format(b='g.b')} AS band_hash
  FROM old_sig CROSS JOIN generate_series(0, {n_bands - 1}) g(b)
),
cand AS (
  SELECT DISTINCT nw.doc_id AS new_id, o.doc_id AS corpus_id
  FROM new_bands nw
  JOIN old_bands o ON nw.band_id = o.band_id AND nw.band_hash = o.band_hash
  WHERE nw.doc_id <> o.doc_id
),
verified AS (
  SELECT c.new_id, c.corpus_id,
         CAST(len(list_intersect(sa.shingles, sb.shingles))
              / CAST(len(sa.shingles) + len(sb.shingles)
                     - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           AS DECIMAL(18,6)) AS jaccard
  FROM cand c
  JOIN new_ne sa ON sa.doc_id = c.new_id
  JOIN old_ne sb ON sb.doc_id = c.corpus_id
)
SELECT new_id, corpus_id, CAST(jaccard AS DOUBLE) AS jaccard
FROM verified WHERE jaccard >= {threshold}
ORDER BY new_id, corpus_id
"""




def simhash_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    n_bands: int = 8,
    max_hamming: int = 3,
) -> str:
    """DuckDB oracle for :class:`SimHashDedup` with ``hash_family='md5'``:
    identical 64-bit token hashes (first 16 md5 hex chars), per-bit strict
    majority votes, int64-wraparound signature packing, arithmetic-shift
    band extraction, and bit_count(xor) Hamming filter."""
    toks = tokens_sql(text)
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    return f"""
WITH docs AS (
  SELECT {id_col} AS doc_id, list_distinct({toks}) AS tokens FROM {table}
),
th AS (
  SELECT doc_id, ('0x' || substring(md5(t.tok), 1, 16))::UBIGINT AS h
  FROM docs, unnest(tokens) AS t(tok)
  WHERE len(tokens) > 0
),
votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE 0 END) * 2 > COUNT(*) AS b
  FROM th CROSS JOIN generate_series(0, {bits - 1}) g(j)
  GROUP BY doc_id, j
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN b AND j < {bits - 1} THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              + SUM(CASE WHEN b AND j = {bits - 1} THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END)
           AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, g.band_id,
         (simhash >> (g.band_id * {band_bits})) & {mask} AS band_val
  FROM sig CROSS JOIN generate_series(0, {n_bands - 1}) g(band_id)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                  b.doc_id AS doc_b, b.simhash AS sig_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


def minhash_dedup_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 32,
    band_size: int = 4,
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle for :class:`MinHashDedup` with ``hash_family='md5'``:
    identical string-min signatures, band keys as joined signature slices,
    bucket-join candidate generation, and the exact-Jaccard verify."""
    sh = shingles_sql(text, n)
    n_bands = n_hashes // band_size
    band_key = " || '|' || ".join(
        f"sig[{{b}} * {band_size} + {i + 1}]" for i in range(band_size)
    )
    return f"""
WITH docs AS (
  SELECT {id_col} AS doc_id, {sh} AS shingles FROM {table}
),
nonempty AS (SELECT * FROM docs WHERE len(shingles) > 0),
sig AS (
  SELECT doc_id, shingles,
         list_transform(generate_series(0, {n_hashes - 1}), i ->
           list_min(list_transform(shingles, s ->
             substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 16)))) AS sig
  FROM nonempty
),
bands AS (
  SELECT doc_id, g.b AS band_id, {band_key.format(b='g.b')} AS band_hash
  FROM sig CROSS JOIN generate_series(0, {n_bands - 1}) g(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
         CAST(len(list_intersect(sa.shingles, sb.shingles))
              / CAST(len(sa.shingles) + len(sb.shingles)
                     - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           AS DECIMAL(18,6)) AS jaccard
  FROM cand c
  JOIN nonempty sa ON sa.doc_id = c.doc_a
  JOIN nonempty sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, CAST(jaccard AS DOUBLE) AS jaccard
FROM verified WHERE jaccard >= {threshold}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# banded-LSH S-curve audit (parameter planner for MinHash dedup)
# ---------------------------------------------------------------------------


def _s_curve_theory(n_bands: int, band_size: int, buckets: int):
    """Theoretical candidate probability 1 - (1 - s^r)^b at each Jaccard
    bucket midpoint, computed ONCE in Python so the identical double
    literals embed in both the Spark plan and the DuckDB oracle."""
    out = []
    for jb in range(buckets):
        s = (jb + 0.5) / buckets
        out.append((jb, 1.0 - (1.0 - s**band_size) ** n_bands))
    return out


class LshSCurveAudit(Pipe):
    """Banded-LSH S-curve audit: per exact-Jaccard bucket, the MEASURED
    candidate rate of (bands x rows) MinHash banding next to the
    THEORETICAL ``1 - (1 - s^r)^b`` — the plot that picks a banding
    before a 100 TB dedup run commits to one (too steep = missed dups,
    too flat = quadratic candidate blowup).

    Ground truth: the :class:`NgramJaccardDedup` inverted-index pair set
    with a low Jaccard ``floor`` (the audit needs sub-threshold pairs —
    they are where a bad banding over-generates). The candidate bit is
    evaluated ROW-LOCAL on each pair's portable md5 signatures (array
    slice equality per band, the exact q28 banding), so the audit's only
    shuffles are the pair table's own. All rates round through
    DECIMAL(18,6); theory values are shared Python literals — bit-exact
    oracle-able end to end."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        n_hashes: int = 32,
        band_size: int = 4,
        floor: float = 0.2,
        buckets: int = 10,
        sample_fraction: float | None = None,
        seed: int = 23,
        **kwargs,
    ):
        if n_hashes % band_size != 0:
            raise ValueError(
                f"band_size ({band_size}) must divide n_hashes ({n_hashes})"
            )
        super().__init__(**kwargs)
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.n_hashes = n_hashes
        self.band_size = band_size
        self.floor = floor
        self.buckets = buckets
        # an audit ESTIMATES rates — it does not need every pair. The
        # low-floor pair universe grows near-quadratically with corpus
        # size (67 s at the 10x soak unsampled), so at scale the audit
        # runs on a deterministic md5-gated document sample: exact
        # Jaccard semantics inside the sample, reproducible across
        # engines/partitionings, and pair cost scales by fraction^2.
        self.sample_fraction = sample_fraction
        self.seed = seed

    def _sampled(self, df: DataFrame) -> DataFrame:
        if self.sample_fraction is None:
            return df
        from warp_pipes_spark.pipes.sampling import _gate_col, _threshold_hex

        return df.filter(
            _gate_col(F.col(self.id_col), self.seed)
            < F.lit(_threshold_hex(self.sample_fraction))
        )

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        df = self._sampled(df)
        pairs = NgramJaccardDedup(
            text_col=self.text_col,
            id_col=self.id_col,
            n=self.n,
            threshold=self.floor,
            prefix_filter=False,
        )(df)
        # codegen'd signature table (see portable_minhash_sig_table)
        sig = portable_minhash_sig_table(
            df, self.id_col, self.text_col, self.n, self.n_hashes
        )
        a = sig.select(F.col("__sid").alias("doc_a"), F.col("__sig").alias("__sa"))
        b = sig.select(F.col("__sid").alias("doc_b"), F.col("__sig").alias("__sb"))
        r, nb = self.band_size, self.n_hashes // self.band_size
        band_hit = None
        for i in range(nb):
            eq = F.slice("__sa", i * r + 1, r) == F.slice("__sb", i * r + 1, r)
            band_hit = eq if band_hit is None else (band_hit | eq)
        # bucket width is 1/buckets (NOT a hard-coded decile): bucket
        # edges, j_lo and the theory midpoints all derive from the same
        # self.buckets so non-default bucket counts stay consistent.
        jb = F.floor(
            F.least(
                F.col("jaccard").cast("decimal(18,6)") * self.buckets,
                F.lit(self.buckets - 1 + 0.5).cast("decimal(18,6)"),
            )
        ).cast("long")
        scored = (
            pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .select(jb.alias("jbucket"), band_hit.cast("long").alias("hit"))
        )
        theory = df.sparkSession.createDataFrame(
            _s_curve_theory(nb, r, self.buckets), "jbucket long, p_theory double"
        )
        dec6 = lambda c: c.cast("decimal(18,6)").cast("double")
        agg = scored.groupBy("jbucket").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("hit").cast("long").alias("n_candidates"),
        )
        return (
            agg.join(F.broadcast(theory), "jbucket")
            .select(
                (F.col("jbucket").cast("double") / float(self.buckets)).alias(
                    "j_lo"
                ),
                "n_pairs",
                "n_candidates",
                dec6(
                    F.col("n_candidates").cast("double")
                    / F.col("n_pairs").cast("double")
                ).alias("measured_rate"),
                dec6(F.col("p_theory")).alias("theoretical_rate"),
            )
        )


def lsh_s_curve_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 32,
    band_size: int = 4,
    floor: float = 0.2,
    buckets: int = 10,
    sample_fraction: float | None = None,
    seed: int = 23,
) -> str:
    """DuckDB oracle for :class:`LshSCurveAudit`: identical (sampled)
    pair set, md5 signatures, band slices, bucketing and shared theory
    literals."""
    if sample_fraction is not None:
        from warp_pipes_spark.pipes.sampling import _gate_sql, _threshold_hex

        table = (
            f"(SELECT * FROM {table} WHERE {_gate_sql(id_col, seed)}"
            f" < '{_threshold_hex(sample_fraction)}') smp"
        )
    pair_sql = ngram_jaccard_sql(table, text, id_col, n, floor)
    sh = shingles_sql(text, n)
    r, nb = band_size, n_hashes // band_size
    sig_elems = ", ".join(
        f"(SELECT MIN(substring(md5('{i}:' || s.sh), 1, 16)) "
        f"FROM (SELECT unnest(shingles) AS sh) s)"
        for i in range(n_hashes)
    )
    band_terms = " OR ".join(
        f"a.sig[{i * r + 1}:{(i + 1) * r}] = b.sig[{i * r + 1}:{(i + 1) * r}]"
        for i in range(nb)
    )
    # explicit DOUBLE cast on the literal: DuckDB parses a bare 19-digit
    # decimal literal as DECIMAL(20,19), and DECIMAL->DECIMAL(18,6)
    # TRUNCATES where Spark's double->decimal ROUNDS (caught by the
    # buckets=5 config-sweep cell: theory 0.00079972 -> 0.000799 vs 0.0008)
    theory_rows = ", ".join(
        f"({jb}, CAST({p!r} AS DOUBLE))"
        for jb, p in _s_curve_theory(nb, r, buckets)
    )
    return f"""
WITH pairs AS MATERIALIZED ({pair_sql}),
sigs AS MATERIALIZED (
  SELECT {id_col} AS sid, [{sig_elems}] AS sig
  FROM (SELECT {id_col}, {sh} AS shingles FROM {table})
),
scored AS (
  SELECT CAST(FLOOR(LEAST(CAST(p.jaccard AS DECIMAL(18,6)) * {buckets},
                          CAST({buckets - 1 + 0.5} AS DECIMAL(18,6))))
              AS BIGINT) AS jbucket,
         CASE WHEN {band_terms} THEN 1 ELSE 0 END AS hit
  FROM pairs p
  JOIN sigs a ON a.sid = p.doc_a
  JOIN sigs b ON b.sid = p.doc_b
),
theory(jbucket, p_theory) AS (VALUES {theory_rows})
SELECT CAST(s.jbucket AS DOUBLE) / {float(buckets)!r} AS j_lo,
       COUNT(*) AS n_pairs,
       CAST(SUM(hit) AS BIGINT) AS n_candidates,
       CAST(CAST(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS measured_rate,
       CAST(CAST(t.p_theory AS DECIMAL(18,6)) AS DOUBLE) AS theoretical_rate
FROM scored s JOIN theory t USING (jbucket)
GROUP BY s.jbucket, t.p_theory
ORDER BY j_lo
"""


# ---------------------------------------------------------------------------
# inter-method duplicate-verdict agreement (Cohen's kappa)
# ---------------------------------------------------------------------------


def simhash_signature_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> str:
    """The (doc_id, simhash) signature subquery of :func:`simhash_sql` —
    factored out so audits (q191) can reuse the identical md5-family
    signature replay without the banding/pair machinery."""
    toks = tokens_sql(text)
    return f"""
SELECT doc_id,
       CAST(SUM(CASE WHEN b AND j < {bits - 1} THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            + SUM(CASE WHEN b AND j = {bits - 1} THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END)
         AS BIGINT) AS simhash
FROM (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE 0 END) * 2 > COUNT(*) AS b
  FROM (
    SELECT doc_id, ('0x' || substring(md5(t.tok), 1, 16))::UBIGINT AS h
    FROM (SELECT {id_col} AS doc_id, list_distinct({toks}) AS tokens FROM {table}) d,
         unnest(tokens) AS t(tok)
    WHERE len(tokens) > 0
  ) th CROSS JOIN generate_series(0, {bits - 1}) g(j)
  GROUP BY doc_id, j
) votes GROUP BY doc_id
"""


class DedupAgreement(Pipe):
    """Cohen's kappa between two near-duplicate verdicts over the exact
    shared-shingle pair universe (:class:`NgramJaccardDedup`, Jaccard >=
    ``floor``): method A = banded md5-MinHash candidacy (the q28/q188
    banding), method B = SimHash Hamming distance <= ``max_hamming``
    (the q29 signature algebra, md5 family). The swap-methods audit:
    percent agreement flatters under imbalance, kappa = (po - pe) /
    (1 - pe) corrects for chance.

    Both verdicts are ROW-LOCAL expressions over per-doc signatures
    joined onto the pair table, so beyond the pair set itself the audit
    adds two doc-sized signature scans and a 4-cell aggregation. The
    2x2 table is exact integers; po and pe are single IEEE expressions
    of those integers with DECIMAL(18,6) roundings at the oracle's
    exact cast points."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        n_hashes: int = 32,
        band_size: int = 4,
        max_hamming: int = 3,
        floor: float = 0.05,
        sample_fraction: float | None = None,
        seed: int = 23,
        **kwargs,
    ):
        if n_hashes % band_size != 0:
            raise ValueError(
                f"band_size ({band_size}) must divide n_hashes ({n_hashes})"
            )
        super().__init__(**kwargs)
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.n_hashes = n_hashes
        self.band_size = band_size
        self.max_hamming = max_hamming
        self.floor = floor
        # agreement is a RATE estimate — run it on a deterministic
        # md5-gated doc sample at scale (the LshSCurveAudit rationale:
        # the low-floor pair universe is near-quadratic unsampled)
        self.sample_fraction = sample_fraction
        self.seed = seed

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        if self.sample_fraction is not None:
            from warp_pipes_spark.pipes.sampling import (
                _gate_col,
                _threshold_hex,
            )

            df = df.filter(
                _gate_col(F.col(self.id_col), self.seed)
                < F.lit(_threshold_hex(self.sample_fraction))
            )
        pairs = NgramJaccardDedup(
            text_col=self.text_col,
            id_col=self.id_col,
            n=self.n,
            threshold=self.floor,
            prefix_filter=False,
        )(df)
        # codegen'd signature table (see portable_minhash_sig_table)
        msig = portable_minhash_sig_table(
            df, self.id_col, self.text_col, self.n, self.n_hashes
        ).select("__sid", F.col("__sig").alias("__msig"))
        ssig = SimHashDedup(
            text_col=self.text_col,
            id_col=self.id_col,
            hash_family="md5",
            materialize_signatures=False,
        )._signatures(df)
        r, nb = self.band_size, self.n_hashes // self.band_size
        band_hit = None
        for i in range(nb):
            eq = F.slice("__ma", i * r + 1, r) == F.slice("__mb", i * r + 1, r)
            band_hit = eq if band_hit is None else (band_hit | eq)
        sim_hit = (
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
            <= self.max_hamming
        )
        labeled = (
            pairs.join(
                msig.select(F.col("__sid").alias("doc_a"), F.col("__msig").alias("__ma")),
                "doc_a",
            )
            .join(
                msig.select(F.col("__sid").alias("doc_b"), F.col("__msig").alias("__mb")),
                "doc_b",
            )
            .join(
                ssig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("__sa")),
                "doc_a",
            )
            .join(
                ssig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("__sb")),
                "doc_b",
            )
            .select(
                band_hit.cast("long").alias("a"), sim_hit.cast("long").alias("b")
            )
        )
        cells = labeled.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a") * F.col("b")).alias("n11"),
            F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
            F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        )
        dec6 = lambda c: c.cast("decimal(18,6)").cast("double")
        n = F.col("n").cast("double")
        n11, n10, n01 = (F.col(c).cast("double") for c in ("n11", "n10", "n01"))
        n00 = n - n11 - n10 - n01
        po = (n11 + n00) / n
        pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
        kappa = F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)).otherwise(
            F.lit(1.0)
        )
        return cells.select(
            F.col("n").cast("long").alias("n_pairs"),
            F.col("n11").cast("long").alias("both_dup"),
            F.col("n10").cast("long").alias("minhash_only"),
            F.col("n01").cast("long").alias("simhash_only"),
            (F.col("n") - F.col("n11") - F.col("n10") - F.col("n01"))
            .cast("long")
            .alias("neither"),
            dec6(po).alias("po"),
            dec6(pe).alias("pe"),
            dec6(kappa).alias("kappa"),
        )


def dedup_agreement_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 32,
    band_size: int = 4,
    max_hamming: int = 3,
    floor: float = 0.05,
    sample_fraction: float | None = None,
    seed: int = 23,
) -> str:
    """DuckDB oracle for :class:`DedupAgreement`: identical (sampled)
    pair set, signatures, verdicts and kappa algebra."""
    if sample_fraction is not None:
        from warp_pipes_spark.pipes.sampling import _gate_sql, _threshold_hex

        table = (
            f"(SELECT * FROM {table} WHERE {_gate_sql(id_col, seed)}"
            f" < '{_threshold_hex(sample_fraction)}') smp"
        )
    pair_sql = ngram_jaccard_sql(table, text, id_col, n, floor)
    sh = shingles_sql(text, n)
    ssig = simhash_signature_sql(table, text, id_col)
    r, nb = band_size, n_hashes // band_size
    sig_elems = ", ".join(
        f"(SELECT MIN(substring(md5('{i}:' || s.sh), 1, 16)) "
        f"FROM (SELECT unnest(shingles) AS sh) s)"
        for i in range(n_hashes)
    )
    band_terms = " OR ".join(
        f"ma.sig[{i * r + 1}:{(i + 1) * r}] = mb.sig[{i * r + 1}:{(i + 1) * r}]"
        for i in range(nb)
    )
    return f"""
WITH pairs AS MATERIALIZED ({pair_sql}),
msig AS MATERIALIZED (
  SELECT {id_col} AS sid, [{sig_elems}] AS sig
  FROM (SELECT {id_col}, {sh} AS shingles FROM {table})
),
ssig AS MATERIALIZED ({ssig}),
labeled AS (
  SELECT CASE WHEN {band_terms} THEN 1 ELSE 0 END AS a,
         CASE WHEN bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
              THEN 1 ELSE 0 END AS b
  FROM pairs p
  JOIN msig ma ON ma.sid = p.doc_a
  JOIN msig mb ON mb.sid = p.doc_b
  JOIN ssig sa ON sa.doc_id = p.doc_a
  JOIN ssig sb ON sb.doc_id = p.doc_b
),
cells AS (
  SELECT COUNT(*) AS n, SUM(a * b) AS n11, SUM(a * (1 - b)) AS n10,
         SUM((1 - a) * b) AS n01
  FROM labeled
)
SELECT CAST(n AS BIGINT) AS n_pairs, CAST(n11 AS BIGINT) AS both_dup,
       CAST(n10 AS BIGINT) AS minhash_only, CAST(n01 AS BIGINT) AS simhash_only,
       CAST(n - n11 - n10 - n01 AS BIGINT) AS neither,
       CAST(CAST((CAST(n11 AS DOUBLE) + CAST(n - n11 - n10 - n01 AS DOUBLE)) / CAST(n AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS po,
       CAST(CAST((CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
                  + CAST((n01 + (n - n11 - n10 - n01)) * (n10 + (n - n11 - n10 - n01)) AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
            AS DECIMAL(18,6)) AS DOUBLE) AS pe,
       CAST(CAST(
         CASE WHEN (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
                    + CAST((n01 + (n - n11 - n10 - n01)) * (n10 + (n - n11 - n10 - n01)) AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
              THEN ((CAST(n11 AS DOUBLE) + CAST(n - n11 - n10 - n01 AS DOUBLE)) / CAST(n AS DOUBLE)
                    - (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
                       + CAST((n01 + (n - n11 - n10 - n01)) * (n10 + (n - n11 - n10 - n01)) AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1.0 - (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
                             + CAST((n01 + (n - n11 - n10 - n01)) * (n10 + (n - n11 - n10 - n01)) AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              ELSE 1.0 END
       AS DECIMAL(18,6)) AS DOUBLE) AS kappa
FROM cells
"""


class ContainmentPairs(Pipe):
    """Broder CONTAINMENT audit over the exact near-dup pair set: for every
    trigram-Jaccard pair (the :class:`NgramJaccardDedup` artifact — shared
    via the pair cache, so this audit adds two size joins and a row-local
    classification, never a second candidate join) emit the ASYMMETRIC
    containment scores c_a = |A∩B|/|A| and c_b = |A∩B|/|B| (Broder 1997,
    "On the resemblance and containment of documents") and classify the
    relation: ``near_equal`` (both above ``near_equal``), ``a_in_b`` /
    ``b_in_a`` (one-sided — quotes, excerpts, supersets: the case
    resemblance alone cannot see), else ``overlap``.

    Reference anchor: extension of the NgramJaccardDedup family
    (resemblance is symmetric; pipelines deciding KEEP-WHICH need the
    direction)."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        threshold: float = 0.5,
        near_equal: float = 0.9,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.threshold = threshold
        self.near_equal = near_equal

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        pairs = NgramJaccardDedup(
            text_col=self.text_col,
            id_col=self.id_col,
            n=self.n,
            threshold=self.threshold,
            prefix_filter=False,
        )(df)
        sh = shingle_table(df, self.n, self.id_col, self.text_col)
        sizes = sh.select("doc_id", F.size("shingles").alias("ns"))
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("size_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("size_b"))
        ca = (F.col("n_common") / F.col("size_a").cast("double")).cast(
            "decimal(18,6)"
        )
        cb = (F.col("n_common") / F.col("size_b").cast("double")).cast(
            "decimal(18,6)"
        )
        ne = F.lit(self.near_equal)
        out = (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("containment_a", ca)
            .withColumn("containment_b", cb)
            .withColumn(
                "relation",
                F.when(
                    (F.col("containment_a") >= ne) & (F.col("containment_b") >= ne),
                    F.lit("near_equal"),
                )
                .when(F.col("containment_a") >= ne, F.lit("a_in_b"))
                .when(F.col("containment_b") >= ne, F.lit("b_in_a"))
                .otherwise(F.lit("overlap")),
            )
        )
        return out.select(
            "doc_a",
            "doc_b",
            "n_common",
            "jaccard",
            F.col("containment_a").cast("double").alias("containment_a"),
            F.col("containment_b").cast("double").alias("containment_b"),
            "relation",
        )


def containment_pairs_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    near_equal: float = 0.9,
) -> str:
    """DuckDB oracle for :class:`ContainmentPairs` — the ngram_jaccard pair
    CTE extended with both set sizes and the identical decimal-rounded
    containment/relation arithmetic."""
    pair_sql = ngram_jaccard_sql(table, text, id_col, n, threshold)
    sh = shingles_sql(text, n)
    return f"""
WITH pairs AS ({pair_sql}),
sizes AS (
  SELECT {id_col} AS doc_id, len({sh}) AS ns FROM {table}
),
scored AS (
  SELECT p.doc_a, p.doc_b, p.n_common, p.jaccard,
         CAST(p.n_common / CAST(sa.ns AS DOUBLE) AS DECIMAL(18,6)) AS ca,
         CAST(p.n_common / CAST(sb.ns AS DOUBLE) AS DECIMAL(18,6)) AS cb
  FROM pairs p
  JOIN sizes sa ON p.doc_a = sa.doc_id
  JOIN sizes sb ON p.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, n_common, jaccard,
       CAST(ca AS DOUBLE) AS containment_a,
       CAST(cb AS DOUBLE) AS containment_b,
       CASE WHEN ca >= {near_equal} AND cb >= {near_equal} THEN 'near_equal'
            WHEN ca >= {near_equal} THEN 'a_in_b'
            WHEN cb >= {near_equal} THEN 'b_in_a'
            ELSE 'overlap' END AS relation
FROM scored
ORDER BY doc_a, doc_b
"""


class ChunkDedupStats(Pipe):
    """Fixed-size-chunk exact-dedup audit (the RETRO/memorization report:
    Borgeaud et al. 2022 dedupe retrieval chunks against train; Lee et al.
    2022 measure exact substring duplication): split each doc's token
    stream into consecutive ``chunk_size``-token chunks (tail shorter than
    ``chunk_size`` dropped, the fixed-stride convention), key each chunk by
    its joined text, and report per doc how many of its chunks also occur
    elsewhere in the corpus (>= 2 (doc, position) slots corpus-wide —
    including twice within the SAME doc, which is exactly internal
    repetition). Chunking is a row-local array expression; the only
    shuffle is the chunk-frequency groupBy, whose key space is bounded by
    distinct chunk text.

    At 100 TB: group on a 64-bit chunk hash instead of the chunk string to
    cut shuffle width (the md5/xxhash64 trade documented at
    :class:`ExactDedup`); the audit is exact either way up to hash
    collisions."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        chunk_size: int = 16,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.text_col = text_col
        self.id_col = id_col
        self.chunk_size = chunk_size

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        from warp_pipes_spark.text.analysis import tokens_expr

        cs = self.chunk_size
        toks = tokens_expr(F.col(self.text_col))
        n_chunks = (F.size(toks) / cs).cast("int")
        # Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of returning
        # empty — docs shorter than one chunk must yield zero chunk rows
        chunks = F.when(
            n_chunks >= 1,
            F.transform(
                F.sequence(F.lit(1), n_chunks),
                lambda i: F.array_join(F.slice(toks, (i - 1) * cs + 1, cs), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        per_chunk = (
            widen_partitions(df.select(F.col(self.id_col).alias("doc_id"), F.col(self.text_col)))
            .select("doc_id", F.explode(chunks).alias("chunk"))
        )
        freq = per_chunk.groupBy("chunk").agg(F.count(F.lit(1)).alias("cnt"))
        return (
            per_chunk.join(freq, "chunk")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).alias(
                    "n_dup_chunks"
                ),
            )
            .select(
                "doc_id",
                F.col("n_chunks").cast("long").alias("n_chunks"),
                F.col("n_dup_chunks").cast("long").alias("n_dup_chunks"),
                (
                    F.col("n_dup_chunks") / F.col("n_chunks").cast("double")
                ).alias("dup_rate"),
            )
        )


def chunk_dedup_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 16,
) -> str:
    """DuckDB oracle for :class:`ChunkDedupStats` — identical tokenization,
    chunk boundaries and dup-counting; dup_rate is the same single IEEE
    division."""
    from warp_pipes_spark.text.analysis import tokens_sql

    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {tokens_sql(text)} AS t FROM {table}
),
per_chunk AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) // {chunk_size}),
                i -> array_to_string(t[(i - 1) * {chunk_size} + 1 : i * {chunk_size}], ' '))) AS chunk
  FROM toks
),
freq AS (
  SELECT chunk, COUNT(*) AS cnt FROM per_chunk GROUP BY chunk
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       SUM(CASE WHEN f.cnt >= 2 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM per_chunk p JOIN freq f ON p.chunk = f.chunk
GROUP BY p.doc_id
ORDER BY p.doc_id
"""
