"""Advanced analytics & ML-feature operators (SURVEY.md §2 B44-B49,
C37-C38, D12-D13, E26).

The feature-engineering / model-evaluation layer a training-data
pipeline needs on top of the relational core: skyline (Pareto)
extraction, RFM scoring, lift tables, categorical encoders, BFS graph
distances, OOV / bigram-LM text scores, EWMA smoothing, and a PCA
projection. Every operator keeps the scale-first shapes used across
the catalog: facts collapse to group aggregates before any window,
scalar thresholds ride broadcast joins instead of global sorts, and
iterative algorithms shuffle only node-sized state per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table

_TOKS = r"string_split_regex(trim(text), '\s+')"


# ---------------------------------------------------------------- B44
@register(
    "pareto_frontier",
    oracle="""
    SELECT a.p_partkey, a.p_size, round(a.p_retailprice, 2) AS p_retailprice
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_size >= a.p_size AND b.p_retailprice >= a.p_retailprice
          AND (b.p_size > a.p_size OR b.p_retailprice > a.p_retailprice))
    """,
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44 — 2-D skyline (Pareto frontier): parts not dominated on
    (p_size max, p_retailprice max). The oracle keeps the O(n²)
    NOT-EXISTS dominance form; the Spark plan is the linear-time
    sort-scan decomposition: (1) the fact collapses to one champion
    per p_size (map-side-combinable max — same-size rows below the
    size's best price are dominated by it), (2) a running strict-
    prefix max over champions ordered by size DESC keeps exactly the
    champions whose price beats every larger size's best, (3) the
    tiny frontier joins back to recover all tied part rows. The only
    window runs on the per-size champion set (≤ |distinct sizes|
    rows), never the fact — at 100 TB the skyline pass is a scalar-
    sized sort after a full map-side collapse."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    cand = p.groupBy("p_size").agg(F.max("p_retailprice").alias("best_price"))
    w = (
        Window.orderBy(F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        cand.withColumn("prev_max", F.max("best_price").over(w))
        .where(
            F.col("prev_max").isNull() | (F.col("best_price") > F.col("prev_max"))
        )
        .select(F.col("p_size").alias("sk_size"), F.col("best_price"))
    )
    return (
        p.join(
            F.broadcast(sky),
            (p.p_size == sky.sk_size) & (p.p_retailprice == sky.best_price),
        )
        .select(
            "p_partkey", "p_size", F.round("p_retailprice", 2).alias("p_retailprice")
        )
    )


# ---------------------------------------------------------------- B45
@register(
    "rfm_segmentation",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey AS c_custkey,
               epoch_us(max(o_orderdate)) AS rec,
               count(*) AS freq,
               round(sum(o_totalprice), 2) AS mon
        FROM orders GROUP BY o_custkey
    ),
    th AS (
        SELECT quantile_cont(rec,  [0.2, 0.4, 0.6, 0.8]) AS rt,
               quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS ft,
               quantile_cont(mon,  [0.2, 0.4, 0.6, 0.8]) AS mt
        FROM rfm
    )
    SELECT c_custkey,
           1 + CASE WHEN rec > rt[1] THEN 1 ELSE 0 END
             + CASE WHEN rec > rt[2] THEN 1 ELSE 0 END
             + CASE WHEN rec > rt[3] THEN 1 ELSE 0 END
             + CASE WHEN rec > rt[4] THEN 1 ELSE 0 END AS r_score,
           1 + CASE WHEN freq > ft[1] THEN 1 ELSE 0 END
             + CASE WHEN freq > ft[2] THEN 1 ELSE 0 END
             + CASE WHEN freq > ft[3] THEN 1 ELSE 0 END
             + CASE WHEN freq > ft[4] THEN 1 ELSE 0 END AS f_score,
           1 + CASE WHEN mon > mt[1] THEN 1 ELSE 0 END
             + CASE WHEN mon > mt[2] THEN 1 ELSE 0 END
             + CASE WHEN mon > mt[3] THEN 1 ELSE 0 END
             + CASE WHEN mon > mt[4] THEN 1 ELSE 0 END AS m_score
    FROM rfm, th
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45 — RFM customer scoring (recency / frequency / monetary,
    quintile scores 1-5). Spark-first shape: NO ntile — ntile needs a
    global sort of every customer; instead the four quintile cut
    points per dimension come from ONE scalar exact-percentile
    aggregate (``percentile`` ≡ DuckDB ``quantile_cont``, the
    B17-proven pairing) and scoring is a broadcast-join projection.
    At 100 TB swap approx_percentile (t-digest, mergeable) into the
    threshold pass — plan shape unchanged. Monetary is rounded to
    cents BEFORE thresholding so both engines bucket the identical
    value (float sum order differs between engines)."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.unix_micros(F.max("o_orderdate")).alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("o_totalprice"), 2).alias("mon"),
    )
    qs = F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])
    th = F.broadcast(
        rfm.agg(
            F.percentile("rec", qs).alias("rt"),
            F.percentile("freq", qs).alias("ft"),
            F.percentile("mon", qs).alias("mt"),
        )
    )

    def score(v: str, t: str):
        c = F.lit(1)
        for i in range(4):
            c = c + F.when(F.col(v) > F.col(t).getItem(i), 1).otherwise(0)
        return c

    return rfm.crossJoin(th).select(
        "c_custkey",
        score("rec", "rt").alias("r_score"),
        score("freq", "ft").alias("f_score"),
        score("mon", "mt").alias("m_score"),
    )


# ---------------------------------------------------------------- B46
@register(
    "yoy_growth",
    oracle="""
    WITH rev AS (
        SELECT n_name AS nation, year(l_shipdate) AS yr,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                                   + 0.5) AS BIGINT)) AS BIGINT) AS c
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        GROUP BY n_name, year(l_shipdate)
    )
    SELECT nation, yr,
           c / 100.0 AS revenue,
           lag(c) OVER w / 100.0 AS prev_revenue,
           round((c - lag(c) OVER w) / CAST(lag(c) OVER w AS DOUBLE), 4)
             AS yoy_growth
    FROM rev
    WINDOW w AS (PARTITION BY nation ORDER BY yr)
    """,
)
def yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B46 — year-over-year revenue growth per supplier nation. The
    fact collapses to a (nation, year) rollup first (one shuffle,
    map-side combined); the lag window then runs on the rollup —
    |nations|×|years| rows — never the fact.

    Revenue sums in exact integer cents (per-row HALF-UP via
    ``floor(x·100 + 0.5)`` — pure IEEE ops, no engine round()):
    ``round(sum(double), 2)`` is summation-order dependent and a
    last-ulp drift flips the 2-dp boundary — caught by the 10×
    replicate sweep, where bigger sums put several (nation, year)
    cells exactly on a boundary. The lag division runs on the exact
    integers, so growth is bit-identical too."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    s = F.broadcast(table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    rev = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("yr"))
        .agg(F.sum(cents).alias("c"))
    )
    w = Window.partitionBy("nation").orderBy("yr")
    prev_c = F.lag("c").over(w)
    return rev.select(
        "nation",
        "yr",
        (F.col("c") / 100.0).alias("revenue"),
        (prev_c / 100.0).alias("prev_revenue"),
        F.round(
            (F.col("c") - prev_c) / prev_c.cast("double"), 4
        ).alias("yoy_growth"),
    )


# ---------------------------------------------------------------- B47
@register(
    "decile_lift",
    oracle="""
    WITH th AS (
        SELECT quantile_cont(o_totalprice,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
        FROM orders
    ),
    b AS (
        SELECT 1 + CASE WHEN o_totalprice > t[1] THEN 1 ELSE 0 END
                 + CASE WHEN o_totalprice > t[2] THEN 1 ELSE 0 END
                 + CASE WHEN o_totalprice > t[3] THEN 1 ELSE 0 END
                 + CASE WHEN o_totalprice > t[4] THEN 1 ELSE 0 END
                 + CASE WHEN o_totalprice > t[5] THEN 1 ELSE 0 END
                 + CASE WHEN o_totalprice > t[6] THEN 1 ELSE 0 END
                 + CASE WHEN o_totalprice > t[7] THEN 1 ELSE 0 END
                 + CASE WHEN o_totalprice > t[8] THEN 1 ELSE 0 END
                 + CASE WHEN o_totalprice > t[9] THEN 1 ELSE 0 END AS decile,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS resp
        FROM orders, th
    ),
    tot AS (SELECT count(*) AS tn, sum(resp) AS tr FROM b)
    SELECT decile, count(*) AS n_orders, CAST(sum(resp) AS BIGINT) AS n_resp,
           round(CAST(sum(resp) * tn AS DOUBLE) / (count(*) * tr), 4) AS lift
    FROM b, tot
    GROUP BY decile, tn, tr
    """,
)
def decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B47 — gains/lift table: orders ranked into spend deciles, lift
    of the URGENT-priority response rate per decile vs the base rate.
    The model-evaluation workhorse. Same no-global-sort shape as B45:
    nine cut points from one scalar percentile aggregate, bucketing
    as a broadcast projection, and the lift ratio computed as an
    integer cross-product BEFORE the single float division so both
    engines divide identical integers (bit-equal)."""
    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderpriority")
    qs = F.array(*[F.lit(x / 10.0) for x in range(1, 10)])
    th = F.broadcast(o.agg(F.percentile("o_totalprice", qs).alias("t")))
    decile = F.lit(1)
    for i in range(9):
        decile = decile + F.when(
            F.col("o_totalprice") > F.col("t").getItem(i), 1
        ).otherwise(0)
    b = o.crossJoin(th).select(
        decile.alias("decile"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("resp"),
    )
    # 10-row decile rollup; persisted — the base-rate totals
    # re-aggregate from it instead of a second pass over orders
    g = (
        b.groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("resp").alias("n_resp"))
        .persist()
    )
    tot = F.broadcast(
        g.agg(F.sum("n_orders").alias("tn"), F.sum("n_resp").alias("tr"))
    )
    return (
        g.crossJoin(tot)
        .select(
            "decile",
            "n_orders",
            "n_resp",
            F.round(
                (F.col("n_resp") * F.col("tn")).cast("double")
                / (F.col("n_orders") * F.col("tr")),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------- B48
@register(
    "string_indexer",
    oracle="""
    SELECT p_type, row_number() OVER (ORDER BY cnt DESC, p_type) - 1 AS label_id,
           cnt
    FROM (SELECT p_type, count(*) AS cnt FROM part GROUP BY p_type) v
    """,
)
def string_indexer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B48 — categorical label encoding (the StringIndexer shape):
    the vocabulary of p_type values with dense integer ids assigned by
    descending frequency, lexicographic tiebreak — deterministic
    across engines and partitionings. The fact collapses to its
    distinct-value vocabulary first (map-side-combinable count); the
    row_number window runs on the vocabulary only. Encoding a fact
    table is then a broadcast join against this id map — at 100 TB the
    vocabulary is orders of magnitude smaller than the rows."""
    p = table(spark, sf_dir, "part")
    vocab = p.groupBy("p_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("p_type"))
    return vocab.select(
        "p_type", (F.row_number().over(w) - 1).alias("label_id"), "cnt"
    )


# ---------------------------------------------------------------- B49
@register(
    "target_encode",
    oracle="""
    WITH j AS (
        SELECT c_mktsegment, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    g AS (SELECT sum(o_totalprice) / count(*) AS gmean FROM j)
    SELECT c_mktsegment, count(*) AS n_orders,
           round((sum(o_totalprice) + 50 * gmean) / (count(*) + 50), 2)
             AS enc_totalprice
    FROM j, g
    GROUP BY c_mktsegment, gmean
    """,
)
def target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B49 — smoothed target encoding (the CatBoost/mean-encoding
    feature): per-category mean of the target shrunk toward the
    global mean with pseudo-count m=50 — enc = (Σt + m·μ)/(n + m).
    Rare categories pull to the prior instead of memorizing noise.
    One shuffle for the per-category aggregate; the global mean is a
    scalar broadcast. Algebraic throughout (map-side combined)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = F.broadcast(
        table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    g = F.broadcast(
        j.agg((F.sum("o_totalprice") / F.count(F.lit(1))).alias("gmean"))
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("t_sum"),
        )
        .crossJoin(g)
        .select(
            "c_mktsegment",
            "n_orders",
            F.round(
                (F.col("t_sum") + 50 * F.col("gmean")) / (F.col("n_orders") + 50), 2
            ).alias("enc_totalprice"),
        )
    )


# ---------------------------------------------------------------- D12
_BFS_ROUNDS = 6

@register(
    "bfs_hops",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        FROM lineitem, orders, customer, supplier
        WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey
    ),
    walk(node, hop) AS (
        SELECT 0, 0
        UNION
        SELECT e.dst, walk.hop + 1
        FROM walk JOIN e ON e.src = walk.node
        WHERE walk.hop < {_BFS_ROUNDS}
    )
    SELECT n.n_nationkey AS node, coalesce(w.hop, -1) AS hops
    FROM nation n LEFT JOIN
         (SELECT node, min(hop) AS hop FROM walk GROUP BY node) w
      ON n.n_nationkey = w.node
    """,
)
def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 — BFS shortest hop-distance from nation 0 over the directed
    supplier→customer trade graph (edges = nation pairs with ≥1
    shipment), bounded at 6 rounds; unreachable → -1. The
    third iterative-graph class beside D5 (components) and D10
    (PageRank): per round ONE frontier⋈edges join shuffled on the edge
    key and a min-combine per destination — frontier state is
    node-sized, edges are built once and reused. The oracle is the
    same bounded recursion as a recursive CTE (UNION-distinct
    terminates it), proving the dataflow BFS ≡ the declarative
    transitive closure. At 100 TB this is the Pregel layout: edges
    stay partitioned, only node state moves per superstep."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = F.broadcast(table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    edges = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)  # build once, reuse every round
    )
    n = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    dist = n.select(
        "node",
        F.when(F.col("node") == 0, 0).otherwise(F.lit(None).cast("int")).alias("hop"),
    )
    for _ in range(_BFS_ROUNDS):
        frontier = dist.where(F.col("hop").isNotNull())
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .groupBy("dst")
            .agg(F.min(F.col("hop") + 1).alias("nhop"))
        )
        dist = (
            dist.join(nxt, dist.node == nxt.dst, "left")
            .select("node", F.least("hop", "nhop").alias("hop"))
            .localCheckpoint(eager=False)  # truncate per-round lineage
        )
    return dist.select("node", F.coalesce("hop", F.lit(-1)).alias("hops"))


# ---------------------------------------------------------------- C37
_VOCAB_K = 500

@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ),
    vc AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    v AS (
        SELECT tok FROM (
            SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM vc
        ) r WHERE rn <= {_VOCAB_K}
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 / count(*), 4) AS oov_rate
    FROM t LEFT JOIN v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C37 — tokenizer-vocabulary coverage: per-document out-of-
    vocabulary rate against the corpus's own top-500 tokens
    (frequency-ordered, lexicographic tiebreak). The coverage gate
    run before committing to a tokenizer vocab: docs with high OOV
    are scripts/languages the vocab can't represent. Two passes over
    one tokenization: the vocabulary (corpus-shrunk — the only window
    runs on distinct tokens), then a broadcast left join back onto
    the token stream. Integer-count division → bit-equal rates."""
    from spotify_podcasts_airflow_batch_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vc = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    v = topk_per_group(
        vc, [], [F.col("c").desc(), F.col("tok")], _VOCAB_K
    ).select("tok", F.lit(True).alias("in_vocab"))
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        t.join(F.broadcast(v), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).alias("n_oov"),
            F.round(F.sum(oov) / F.count(F.lit(1)), 4).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------- C38
@register(
    "bigram_logprob",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS w FROM documents
        WHERE length(trim(text)) > 0
    ),
    bg AS (
        SELECT doc_id, unnest(w[1:len(w) - 1]) AS w1, unnest(w[2:len(w)]) AS w2
        FROM t WHERE len(w) >= 2
    ),
    bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    uc AS (
        SELECT tok, count(*) AS cu
        FROM (SELECT unnest(w) AS tok FROM t) u GROUP BY tok
    ),
    v AS (SELECT count(DISTINCT tok) AS vsz
          FROM (SELECT unnest(w) AS tok FROM t) u)
    SELECT bg.doc_id, count(*) AS n_bigrams,
           round(avg(ln((bc.cb + 1) / (uc.cu + v.vsz))), 4) + 0 AS avg_logprob
    FROM bg JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
            JOIN uc ON bg.w1 = uc.tok
            CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C38 — bigram language-model fluency score: per-document mean
    ln P(wᵢ | wᵢ₋₁) under the corpus's own add-1-smoothed bigram model
    (P = (c(w₁w₂)+1) / (c(w₁)+V)) — the conditional upgrade of C31's
    unigram score, sharper at spotting shuffled/gibberish text whose
    unigram profile looks normal. One tokenization feeds three
    aggregates: the bigram count table (shuffle join back — at 100 TB
    it outgrows a broadcast), the unigram counts (broadcast), and the
    scalar vocabulary size. The smoothed probability is an integer-
    over-integer division (bit-equal across engines); ln's last-ulp
    drift is absorbed by round(…,4) — the C31-proven recipe."""
    from spotify_podcasts_airflow_batch_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    tw = d.select("doc_id", tokens(F.col("text")).alias("w")).where(F.size("w") > 0)
    t = tw.select("doc_id", F.explode("w").alias("tok"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("w") - 1),
        lambda i: F.struct(
            F.element_at(F.col("w"), i).alias("w1"),
            F.element_at(F.col("w"), i + 1).alias("w2"),
        ),
    )
    bg = (
        tw.where(F.size("w") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    # vocabulary-sized; persisted — vocabulary size is its row count,
    # so no third corpus explode for the scalar
    uc = t.groupBy(F.col("tok")).agg(F.count(F.lit(1)).alias("cu")).persist()
    v = uc.agg(F.count(F.lit(1)).alias("vsz"))
    return (
        bg.join(bc, ["w1", "w2"])
        .join(F.broadcast(uc), bg.w1 == uc.tok)
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.round(
                    F.avg(F.log((F.col("cb") + 1) / (F.col("cu") + F.col("vsz")))), 4
                )
                + F.lit(0.0)
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------- E26
@register(
    "ewma_smooth",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(list_reduce(list(value ORDER BY ts, event_id),
                             (acc, x) -> acc * 0.7 + x * 0.3), 6) + 0 AS ewma
    FROM events GROUP BY user_id
    """,
)
def ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E26 — exponentially-weighted moving average per user (α=0.3),
    folded over the time-ordered event sequence; the classic trend
    smoother whose recursion sᵢ = αxᵢ + (1-α)sᵢ₋₁ defeats plain window
    frames. Spark-first shape: ONE shuffle collects each user's
    (ts, event_id, value) structs, ``sort_array`` orders them (struct
    field order = sort key), and ``F.aggregate`` folds the recursion
    JVM-side — sequential and identically ordered in both engines
    (DuckDB ``list_reduce`` seeds with the first element exactly as
    the fold's init), so the result is bit-identical before the
    rounding. Per-user state is one double; skew-safe until a single
    user's events overflow a task, at which point the two-level
    fold (E8's shape) applies."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    g = ev.groupBy("user_id").agg(arr.alias("a"))
    rest = F.slice(F.col("a"), 2, F.greatest(F.size("a") - 1, F.lit(0)))
    fold = F.aggregate(
        rest,
        F.element_at(F.col("a"), 1)["value"],
        lambda acc, x: acc * F.lit(0.7) + x["value"] * F.lit(0.3),
    )
    return g.select(
        "user_id",
        F.size("a").alias("n_events"),
        (F.round(fold, 6) + F.lit(0.0)).alias("ewma"),
    )


# ---------------------------------------------------------------- D13
@register("pca_project", oracle=None)  # rows-only: float eigensolve
def pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D13 — first-principal-component projection of the embedding
    corpus: per-partition partial Gram matrices (Arrow-batched
    ``mapInPandas``, numpy XᵀX over centered batches — 64×64 floats
    per task regardless of row count), summed in one tiny shuffle;
    the 64×64 eigensolve runs driver-side (constant work), and the
    component broadcasts back as a literal for a JVM-side
    ``zip_with``/``aggregate`` dot-product projection. The whitening/
    decorrelation pass of an embedding pipeline, shaped exactly like
    distributed PCA at 100 TB: data-sized passes are all map-side-
    combinable, driver work is O(d²). Rows-only (float eigensolve);
    tests/test_pca.py cross-checks the component and projections
    against numpy's eigh on the exact covariance."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probe = emb.select("embedding").first()
    if probe is None:
        # Empty corpus: nothing to decompose — empty projection, not a
        # NoneType crash on the dimensionality probe.
        return spark.createDataFrame([], "vec_id long, pc1_score double")
    dim = len(probe[0])

    mean_row = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg("x").alias("mu"))
        .collect()
    )
    mu = np.zeros(dim)
    for r in mean_row:
        mu[r["pos"]] = r["mu"]
    mu_b = mu  # captured by the closure below

    def partial_gram(batches):
        acc = np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64) - mu_b
            acc += x.T @ x
        i, j = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        yield pd.DataFrame(
            {"i": i.ravel(), "j": j.ravel(), "v": acc.ravel()}
        )

    gram = (
        emb.select("embedding")
        .mapInPandas(partial_gram, "i int, j int, v double")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    g = np.zeros((dim, dim))
    for r in gram:
        g[r["i"], r["j"]] = r["v"]
    vals, vecs = np.linalg.eigh(g)
    comp = vecs[:, -1]
    nz = np.flatnonzero(np.abs(comp) > 1e-12)
    if len(nz) and comp[nz[0]] < 0:
        comp = -comp

    comp_col = F.array(*[F.lit(float(c)) for c in comp])
    mu_col = F.array(*[F.lit(float(m)) for m in mu])
    centered = F.zip_with("embedding", mu_col, lambda x, m: x - m)
    score = F.aggregate(
        F.zip_with(centered, comp_col, lambda x, c: x * c),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select("vec_id", F.round(score, 4).alias("pc1_score"))


# ---------------------------------------------------------------- E27
@register(
    "covered_time",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id, ts, ts + INTERVAL 5 MINUTE AS te FROM events
    ),
    m AS (
        SELECT user_id, event_id, ts, te,
               max(te) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pmax
        FROM iv
    ),
    isl AS (
        SELECT user_id, ts, te,
               sum(CASE WHEN pmax IS NULL OR ts > pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS island
        FROM m
    ),
    g AS (
        SELECT user_id, island, min(ts) AS s, max(te) AS e
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id, count(*) AS n_intervals,
           CAST(sum(epoch_us(e) - epoch_us(s)) AS BIGINT) AS covered_us
    FROM g GROUP BY user_id
    """,
)
def covered_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27 — total covered time per user after merging overlapping
    activity intervals (each event opens a 5-minute window): the
    gaps-and-islands union-of-intervals, the dual of E22's sweep-line
    concurrency. One shuffle on user_id serves both window passes
    (running max of interval end → island boundaries where a start
    clears every prior end; touching intervals merge) and the island
    aggregate — per-key state is a single timestamp, skew-safe until
    one user outgrows a task (then E8's two-level fold applies).
    Microsecond arithmetic is integer-exact across engines."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    iv = ev.withColumn("te", F.col("ts") + F.expr("INTERVAL 5 MINUTE"))
    order = [F.col("ts"), F.col("event_id")]
    wprev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = Window.partitionBy("user_id").orderBy(*order)
    isl = iv.withColumn("pmax", F.max("te").over(wprev)).withColumn(
        "island",
        F.sum(
            F.when(F.col("pmax").isNull() | (F.col("ts") > F.col("pmax")), 1)
            .otherwise(0)
        ).over(wcum),
    )
    g = isl.groupBy("user_id", "island").agg(
        F.min("ts").alias("s"), F.max("te").alias("e")
    )
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.unix_micros("e") - F.unix_micros("s")).alias("covered_us"),
    )


# ---------------------------------------------------------------- E28
@register(
    "activity_streaks",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS daynum
        FROM events
    ),
    r AS (
        SELECT user_id, daynum,
               daynum - row_number() OVER (PARTITION BY user_id ORDER BY daynum)
                 AS anchor
        FROM d
    ),
    s AS (
        SELECT user_id, anchor, count(*) AS streak_len
        FROM r GROUP BY user_id, anchor
    )
    SELECT user_id, max(streak_len) AS best_streak,
           CAST(sum(streak_len) AS BIGINT) AS n_active_days
    FROM s GROUP BY user_id
    """,
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28 — longest consecutive-day activity streak per user: the
    classic gaps-and-islands date trick (daynum − row_number is
    constant exactly along a run of consecutive days), on integer day
    numbers so the island key is arithmetic-exact on both engines.
    The fact first collapses to distinct (user, day) — map-side
    combinable, so the window input is bounded by users × days, never
    raw events."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    d = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "daynum"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("daynum")
    r = d.withColumn("anchor", F.col("daynum") - F.row_number().over(w))
    s = r.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("streak_len"))
    return s.groupBy("user_id").agg(
        F.max("streak_len").alias("best_streak"),
        F.sum("streak_len").alias("n_active_days"),
    )


# ---------------------------------------------------------------- E29
@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, event_type, count(*) AS n_trans
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    tot AS (SELECT prev_type, sum(n_trans) AS n_from FROM t GROUP BY prev_type)
    SELECT t.prev_type, t.event_type, t.n_trans,
           round(t.n_trans / tot.n_from, 4) AS prob
    FROM t JOIN tot USING (prev_type)
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E29 — first-order Markov transition matrix over per-user event
    sequences: P(next event type | current), the user-behavior model
    behind next-action prediction and funnel anomaly detection. One
    shuffle on user_id for the lag window; the transition counts then
    collapse map-side to a |types|² matrix, and the row-normalizing
    totals join back broadcast-sized. Integer-count division →
    bit-equal probabilities."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    t = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("n_trans").alias("n_from"))
    return (
        t.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n_trans",
            F.round(F.col("n_trans") / F.col("n_from"), 4).alias("prob"),
        )
    )


# ---------------------------------------------------------------- E30
@register(
    "hourly_seasonality",
    oracle="""
    SELECT event_type, hour(ts) AS hour_of_day, count(*) AS n_events,
           floor((2 * round(sum(value) * 1000000, 0) + 100 * count(*))
                 / (2 * 100 * count(*))) / 10000.0 AS avg_value
    FROM events
    GROUP BY event_type, hour(ts)
    """,
)
def hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E30 — hour-of-day seasonality profile per event type: the
    diurnal load curve capacity planning and anomaly baselines read
    from. A pure map-side-combinable rollup — the shuffle carries
    |types|×24 partial states regardless of event volume. The average
    uses the integer micro-unit HALF_UP formula (see E1
    tumbling_window) so both engines round the identical
    integer-valued double."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.hour("ts").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.floor(
                (2 * F.round(F.sum("value") * 1000000, 0) + 100 * F.count(F.lit(1)))
                / (2 * 100 * F.count(F.lit(1)))
            )
            / 10000.0
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------- D17
_BF_ROUNDS = 6
_BF_EDGES_SQL = """
        SELECT s_nationkey AS src, c_nationkey AS dst,
               CAST(floor(1000000.0 / count(*)) AS BIGINT) AS w
        FROM lineitem, orders, customer, supplier
        WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey AND s_nationkey <> c_nationkey
        GROUP BY s_nationkey, c_nationkey
"""


def _bellman_ford_oracle() -> str:
    base = f"""
    WITH e AS MATERIALIZED ({_BF_EDGES_SQL}),
    d0 AS MATERIALIZED (
        SELECT n_nationkey AS node,
               CASE WHEN n_nationkey = 0 THEN 0 END::BIGINT AS cost
        FROM nation
    )"""
    step = """,
    d{nxt} AS MATERIALIZED (
        SELECT d.node,
               least(d.cost, r.relaxed) AS cost
        FROM d{cur} d LEFT JOIN (
            SELECT e.dst AS node, min(d{cur}.cost + e.w) AS relaxed
            FROM d{cur} JOIN e ON e.src = d{cur}.node
            WHERE d{cur}.cost IS NOT NULL
            GROUP BY e.dst
        ) r ON r.node = d.node
    )"""
    parts = [base]
    for i in range(_BF_ROUNDS):
        parts.append(step.format(cur=i, nxt=i + 1))
    parts.append(
        f"""
    SELECT node, coalesce(cost, -1) AS min_cost FROM d{_BF_ROUNDS}
    """
    )
    return "".join(parts)


@register("cheapest_trade_route", oracle=_bellman_ford_oracle())
def cheapest_trade_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D17 — WEIGHTED shortest path (Bellman-Ford, 6 relaxation
    rounds) from nation 0 over the trade graph; edge cost =
    ⌊10⁶/shipments⌋, so heavily-traded lanes are cheap. Completes the
    iterative-graph family: D5 components, D10 PageRank, D12 unweighted
    BFS, and now weighted relaxation — per round ONE frontier⋈edges
    join and a min-combine per destination, edge relation built once.
    Costs stay BIGINT end-to-end (the floor-divided weight is exact in
    both engines), so cross-engine agreement is exact, no rounding.
    The oracle unrolls the recursion into chained MATERIALIZED CTEs
    (DuckDB inlines plain CTEs — six chained self-referencing rounds
    would re-evaluate the base join 2⁶ times; a recursive
    CTE carrying cost in its state would enumerate PATHS — exponential;
    the unrolled min-fold is O(E) per round, exactly like the
    dataflow). Unreachable within 6 hops → -1."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = F.broadcast(
        table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    edges = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(
            F.floor(F.lit(1000000.0) / F.count(F.lit(1))).cast("long").alias("w")
        )
        .localCheckpoint(eager=True)  # build once, reuse every round
    )
    n = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    dist = n.select(
        "node",
        F.when(F.col("node") == 0, F.lit(0)).cast("long").alias("cost"),
    )
    for _ in range(_BF_ROUNDS):
        frontier = dist.where(F.col("cost").isNotNull())
        relaxed = (
            edges.join(F.broadcast(frontier), edges.src == frontier.node)
            .groupBy("dst")
            .agg(F.min(F.col("cost") + F.col("w")).alias("relaxed"))
        )
        dist = (
            dist.join(F.broadcast(relaxed), dist.node == relaxed.dst, "left")
            .select("node", F.least("cost", "relaxed").alias("cost"))
            .localCheckpoint(eager=False)  # truncate per-round lineage
        )
    return dist.select("node", F.coalesce("cost", F.lit(-1)).alias("min_cost"))
