"""Similarity-search operators (SURVEY.md §2 D1-D2).

Brute-force cosine top-k is the exactness baseline: broadcast the
(small) query set against the corpus — the corpus is never shuffled,
so the plan is a single scan however large the corpus gets.

The scale path is random-hyperplane LSH: each vector gets a bucket id
from the sign pattern of 8 fixed hyperplanes (deterministically derived
from the md5 hash family, so buckets are reproducible across runs and
engines). Candidate generation is an equi-join on the bucket id —
cost rides bucket occupancy, not corpus size. Identical vectors always
share a bucket, so exact-duplicate recall is 1.0 by construction.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.vectors import (
    dot,
    l2_normalized,
)
from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    topk_per_group,
)

NUM_PLANES = 8

# Cosine involving a zero-norm (failed-embedding) vector. DuckDB's
# list_cosine_similarity returns -1.0 whenever EITHER side is the
# zero vector; -1.0 also ranks last under desc in both engines. The
# raw numpy form (X / ||X||) instead yields NaN — and Spark sorts NaN
# FIRST under desc, so a dead embedding would rank as everyone's top
# neighbor (ADVICE r7). Every GEMM kernel in this repo masks zero
# norms to this sentinel so the numpy paths agree with their DuckDB
# oracles bit-for-bit, zero vectors included. (The JVM expression
# paths use try_divide → NULL instead; their oracles are hand-written
# divisions that also yield NULL, so each pairing is internally
# consistent.)
ZERO_NORM_COS = -1.0


def _by_cos() -> list[Column]:
    """Neighbor order of every cosine top-k here: rounded cosine desc,
    then id — the cross-engine-reproducible tie discipline."""
    return [F.round(F.col("cos_raw"), 6).desc(), F.col("neighbor_id")]


def unit_rows(X):
    """Row-normalize a (n, d) float matrix without NaN: zero-norm rows
    come back all-zero, and the returned boolean mask marks them so
    callers can stamp ``ZERO_NORM_COS`` on their similarity entries.
    Returns (Xn, zero_mask)."""
    import numpy as np

    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    zero = nrm.ravel() == 0.0
    return X / np.where(nrm == 0.0, 1.0, nrm), zero


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random value in [-1, 1] from the shared
    md5-derived hash family (same construction as functions/hashing)."""
    h = hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()
    return (int(h[:15], 16) / float(1 << 60)) * 2.0 - 1.0


def hyperplanes(dims: int, planes: int = NUM_PLANES) -> list[list[float]]:
    return [
        [_plane_component(p, d) for d in range(dims)] for p in range(planes)
    ]


def lsh_bucket(vec: Column, dims: int, planes: int = NUM_PLANES) -> Column:
    """Sign-pattern bucket id in [0, 2^planes)."""
    bucket = F.lit(0)
    for p, plane in enumerate(hyperplanes(dims, planes)):
        plane_col = F.array(*[F.lit(v) for v in plane])
        bit = (dot(vec, plane_col) > 0).cast("int")
        bucket = bucket + bit * F.lit(1 << p)
    return bucket


def blocked_allpairs_cosine(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.3,
    round_dp: int = 4,
) -> DataFrame:
    """All-pairs cosine similarity ≥ ``tau`` within each block, as one
    shuffle on the block key + a numpy GEMM per block.

    The naive formulation (self-join on the block key, one
    ``zip_with``/``aggregate`` dot per joined row) evaluates a 64-term
    fold PER PAIR and allocates the zipped array each time — measured
    ~6× slower than shipping each block through Arrow once and letting
    BLAS compute the whole block's Gram matrix (``Xn @ Xn.T``). Pair
    enumeration never leaves the executor: each task emits only the
    above-threshold upper-triangle entries.

    Scale story: cost is Σ block² — bounded by the blocking key
    (label here; an LSH band bucket at 100 TB), not corpus size. A
    pathological mega-block is per-task O(b²) memory; cap it upstream
    by sub-bucketing the blocking key before calling this."""
    import numpy as np
    import pandas as pd

    def allpairs(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.array(pdf["__vec"].tolist(), dtype=np.float64)
        ids = pdf["__id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        Xn, xzero = unit_rows(X)
        G = Xn @ Xn.T
        # zero-norm rows: cos = -1.0 (DuckDB list_cosine convention),
        # excluded by any tau > -1 — never NaN (see ZERO_NORM_COS)
        G[xzero, :] = ZERO_NORM_COS
        G[:, xzero] = ZERO_NORM_COS
        iu, ju = np.triu_indices(len(ids), k=1)
        ia, ib = ids[iu], ids[ju]
        swap = ia > ib
        ia, ib = np.where(swap, ib, ia), np.where(swap, ia, ib)
        c = G[iu, ju]
        m = c >= tau
        return pd.DataFrame(
            {"id_a": ia[m], "id_b": ib[m], "cos_sim": np.round(c[m], round_dp)}
        )

    return (
        df.select(
            F.col(block_col).alias("__block"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
        )
        .groupBy("__block")
        .applyInPandas(allpairs, schema="id_a long, id_b long, cos_sim double")
    )


# Upper bound on a driver-collected query set (see knn_brute_force).
KNN_MAX_QUERIES = 10_000


def knn_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: the (small, by contract) query set is
    collected once and closed over as a dense matrix; one
    ``mapInPandas`` pass scores every corpus Arrow batch against all
    queries with a single BLAS GEMM (``Xn @ Qn.T``) and emits long-form
    (query, neighbor, cos) rows; a per-query window keeps the top-k.

    The corpus is scanned once and never shuffled before the top-k
    window (whose input AQE truncates per task). Spark's higher-order
    array functions (``zip_with``/``aggregate``) are interpreted per
    element — measured ~1 s for just 10k pairs×64 dims — so per-pair
    JVM dots lose to one Arrow round-trip + GEMM even at tiny scale,
    and at 100 TB the gap widens with batch size. Ordering uses
    round(cos, 6) + id so ranks reproduce bit-for-bit against the
    oracle."""
    import numpy as np
    import pandas as pd

    # Hard cap on the driver-side collect: the contract is a SMALL
    # query set (probe vectors), and misuse with a corpus-sized query
    # relation must fail loudly instead of OOMing the driver. Large
    # query sets belong on knn_lsh / ivf_ann, whose candidate
    # generation is a distributed bucket join.
    cap = KNN_MAX_QUERIES
    # limit(cap+1) bounds the collect itself (the guard costs zero
    # extra jobs — the overflow row proves the violation).
    qrows = queries.select(id_col, vec_col).limit(cap + 1).collect()
    if len(qrows) > cap:
        raise ValueError(
            f"knn_brute_force collects the query set to the driver and "
            f"caps it at {cap} rows (got >{cap}); use "
            f"knn_lsh or ivf_ann for corpus-scale query sets"
        )
    out_schema = "query_id long, neighbor_id long, cos_sim double, rank int"
    if not qrows:
        # Empty query relation (routine for a filtered probe set at
        # scale): the top-k of nothing is an empty result, not a crash
        # in the 1-D-array norm below.
        return corpus.sparkSession.createDataFrame([], out_schema)
    qids = np.array([r[0] for r in qrows])
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn, qzero = unit_rows(Q)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            Xn, xzero = unit_rows(X)
            S = Xn @ Qn.T  # (batch, n_queries)
            # zero-norm side → cos = -1.0, ranks LAST like the DuckDB
            # oracle — never NaN, which Spark would rank FIRST under
            # desc (see ZERO_NORM_COS)
            S[xzero, :] = ZERO_NORM_COS
            S[:, qzero] = ZERO_NORM_COS
            n_c, n_q = S.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, n_c),
                    "neighbor_id": np.repeat(ids, n_q),
                    "cos_raw": S.ravel(),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_raw double"
    ).where(F.col("neighbor_id") != F.col("query_id"))
    return topk_per_group(scored, ["query_id"], _by_cos(), k).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_raw"), 4).alias("cos_sim"),
        "rank",
    )


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Broadcast coarse-centroid relation: the first ``n_cells``
    corpus vectors by id, L2-normalized — deterministic without a
    training pass (swap in k-means centroids from
    `label_centroids`-style aggregation for real data)."""
    return F.broadcast(
        l2_normalized(corpus.orderBy(id_col).limit(n_cells), vec_col, "__ncent")
        .select(
            F.col(id_col).alias("cell_id"), F.col("__ncent").alias("cvec_cent")
        )
    )


def ivf_assign(
    df: DataFrame, cents: DataFrame, idc: str, vc: str, n: int
) -> DataFrame:
    """Rank cells per row by round(cos, 6) (cell-id tiebreak — the
    cross-engine-reproducible discipline) and keep the best ``n``;
    ``__cr`` is retained so callers can re-slice by probe depth."""
    # df's vc is already normalized; centroids normalized above →
    # cell affinity is a dot product
    scored = df.crossJoin(cents).withColumn(
        "cell_cos", dot(F.col(vc), F.col("cvec_cent"))
    )
    return topk_per_group(
        scored,
        [idc],
        [F.round(F.col("cell_cos"), 6).desc(), F.col("cell_id")],
        n,
        "__cr",
    ).drop("cvec_cent", "cell_cos")


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: nearest-centroid cell assignment + probed search.

    Corpus rows join only the broadcast centroid set; queries probe
    their ``n_probe`` best cells. All joins are broadcast-or-bucket —
    the corpus never self-joins."""
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)

    bc = ivf_assign(
        l2_normalized(corpus, vec_col, "__nv").select(
            F.col(id_col).alias("neighbor_id"), F.col("__nv").alias("cvec")
        ),
        cents,
        "neighbor_id",
        "cvec",
        1,
    ).drop("__cr")
    bq = ivf_assign(
        l2_normalized(queries, vec_col, "__nv").select(
            F.col(id_col).alias("query_id"), F.col("__nv").alias("qvec")
        ),
        cents,
        "query_id",
        "qvec",
        n_probe,
    ).drop("__cr")
    scored = (
        F.broadcast(bq)
        .join(bc, "cell_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", dot(F.col("qvec"), F.col("cvec")))
    )
    return topk_per_group(scored, ["query_id"], _by_cos(), k).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_raw"), 4).alias("cos_sim"),
        "rank",
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = NUM_PLANES,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine within. Same output shape as brute force;
    recall is a function of `planes` (8 → 256 buckets)."""
    bq = l2_normalized(queries, vec_col, "__nv").select(
        F.col(id_col).alias("query_id"),
        F.col("__nv").alias("qvec"),
        lsh_bucket(F.col(vec_col), dims, planes).alias("bucket"),
    )
    bc = l2_normalized(corpus, vec_col, "__nv").select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__nv").alias("cvec"),
        lsh_bucket(F.col(vec_col), dims, planes).alias("bucket"),
    )
    scored = (
        F.broadcast(bq)
        .join(bc, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", dot(F.col("qvec"), F.col("cvec")))
    )
    return topk_per_group(scored, ["query_id"], _by_cos(), k).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_raw"), 4).alias("cos_sim"),
        "rank",
    )


def sign_signature(vec: Column, thresholds: list[float]) -> tuple[Column, Column]:
    """Pack a vector into a 64-bit sign signature (two 32-bit longs).

    Bit i is set iff vec[i] > thresholds[i] (the per-dimension corpus
    mean, so bits split the corpus roughly in half per dim). Thresholds
    are plain literals — the whole signature is one codegen projection,
    no shuffle, no Python. Two longs rather than one keeps every
    partial sum inside non-negative BIGINT range on both engines."""
    lo = F.lit(0).cast("long")
    hi = F.lit(0).cast("long")
    for i, t in enumerate(thresholds):
        bit = (F.element_at(vec, i + 1).cast("double") > F.lit(float(t))).cast(
            "long"
        )
        if i < 32:
            lo = lo + bit * F.lit(1 << i).cast("long")
        else:
            hi = hi + bit * F.lit(1 << (i - 32)).cast("long")
    return lo, hi


def knn_hamming_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    thresholds: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rerank: int = 50,
) -> DataFrame:
    """Binary-quantized ANN: Hamming prefilter on 64-bit sign
    signatures, exact cosine rerank of the top ``rerank`` candidates.

    The 100 TB memory story: a 64-dim float32 corpus is 256 B/vector;
    the signature is 8 B — 32× less, so the scan stage streams
    signatures only and the XOR+popcount distance is a handful of ALU
    ops inside whole-stage codegen. Candidate generation is map-only
    (queries broadcast, corpus never shuffled); the only shuffles are
    the two per-query top-k windows, whose input AQE's
    window-group-limit pushdown truncates to ``rerank`` rows per query
    per task before the exchange. Full vectors are touched only for
    |Q|×rerank candidate pairs. Deterministic end to end (fixed
    thresholds, total tiebreak order) → oracle-checkable, unlike
    sampling-based ANN."""
    c_lo, c_hi = sign_signature(F.col(vec_col), thresholds)
    c = l2_normalized(corpus, vec_col, "__nc").select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__nc").alias("cvec"),
        c_lo.alias("c_lo"),
        c_hi.alias("c_hi"),
    )
    q_lo, q_hi = sign_signature(F.col(vec_col), thresholds)
    q = F.broadcast(
        l2_normalized(queries, vec_col, "__nq").select(
            F.col(id_col).alias("query_id"),
            F.col("__nq").alias("qvec"),
            q_lo.alias("q_lo"),
            q_hi.alias("q_hi"),
        )
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
    ).cast("int")
    cand = (
        q.crossJoin(c)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("hamming", ham)
    )
    shortlist = topk_per_group(
        cand,
        ["query_id"],
        [F.col("hamming").asc(), F.col("neighbor_id")],
        rerank,
        "__hr",
    ).drop("__hr")
    return topk_per_group(
        shortlist.withColumn("cos_raw", dot(F.col("qvec"), F.col("cvec"))),
        ["query_id"],
        _by_cos(),
        k,
    ).select(
        "query_id",
        "neighbor_id",
        "hamming",
        F.round(F.col("cos_raw"), 4).alias("cos_sim"),
        "rank",
    )
