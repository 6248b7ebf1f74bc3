"""Events analytics, part 2 (SURVEY.md §2 E31, E34, E43-E47): per-user
dynamic-time-warping alignment between two event streams via COGROUPED
``applyInPandas`` (the per-key two-sided imperative escape hatch the
built-in operators genuinely can't express — the DP recurrence is
inherently sequential per pair), first/last-touch attribution, and the
process-mining eventually-follows matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.hashing import (
    oracle_hash31,
)
from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table

# Max sequence length per side fed to the O(n·m) DP. A single hot user
# with 10^6 events would otherwise run a 10^12-cell DP in one task
# (VERDICT r6 item 3); with the cap the worst per-user cost is
# 512² ≈ 2.6e5 cells regardless of activity. Rows from hotter users
# are deterministically subsampled by md5(event_id) rank — the same
# hash-ranked cap discipline as item_item_cosine_capped
# (plans/recsys.py B59b) — then re-ordered by (ts, event_id), so the
# kept subsequence preserves temporal shape and is independent of
# partitioning. Users at or under the cap keep every event: the capped
# plan is IDENTICAL to the uncapped one on bounded inputs
# (tests/test_dtw.py proves both properties).
_DTW_CAP = 512


def dtw_distance(a, b):
    """O(n·m) dynamic-time-warping distance with |a-b| local cost.

    Vectorized over ANTI-DIAGONAL wavefronts: every cell on diagonal
    i+j=d depends only on diagonals d-1 and d-2, so the whole diagonal
    updates as one numpy gather+min — n+m slice operations instead of
    n·m Python-interpreted cell updates (~20× on 130×130 sequences;
    the per-cell Python loop dominated the whole operator's runtime
    at sf0.1)."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n, m = len(a), len(b)
    C = np.abs(a[:, None] - b[None, :])
    D = np.full((n + 1, m + 1), np.inf)
    D[0, 0] = 0.0
    for d in range(2, n + m + 1):
        i_lo, i_hi = max(1, d - m), min(n, d - 1)
        if i_lo > i_hi:
            continue
        i = np.arange(i_lo, i_hi + 1)
        j = d - i
        D[i, j] = C[i - 1, j - 1] + np.minimum(
            np.minimum(D[i - 1, j], D[i, j - 1]), D[i - 1, j - 1]
        )
    return float(D[n, m])


@register("dtw_behavior_align", oracle=None)  # rows-only: sequential DP,
# not SQL-expressible; cross-checked against an independent pure-python
# DP in tests/test_dtw.py
def dtw_behavior_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E31 — behavioral-shape drift per user: DTW distance between the
    chronological `view`-value sequence and `purchase`-value sequence.
    Each side aggregates JVM-side into ONE ordered value array per
    user (sort_array over (ts, event_id, value) structs), the two
    sides join on user_id, and the DP runs in a BATCHED Arrow scalar
    ``pandas_udf`` — one Python exchange per ~10k-row Arrow batch.
    This replaced a cogrouped ``applyInPandas`` formulation: cogroup
    ships one Arrow batch PER KEY GROUP, and at sf0.1 (1.5k users,
    ~13 events/side) that per-group round trip alone measured 6-7 s
    with a TRIVIAL udf — 25× the actual DP cost. Per-key Arrow framing
    is the wrong shape whenever group payloads are small; batch rows,
    not groups.

    Scale design: state is two per-user sequences, never the corpus;
    cost is Σ_u n_u·m_u, bounded by the per-user activity — hot users
    are capped at ``_DTW_CAP`` events per side JVM-SIDE (before
    collect_list, so a hot user bounds the DP, the array cell, and
    the Arrow batch bytes) via a deterministic md5(event_id)-ranked
    subsample that is then re-ordered by (ts, event_id);
    ``n_views``/``n_buys`` report the TRUE pre-cap counts and
    ``capped`` flags affected users. Array ordering comes from
    sort_array, so results are partition-order independent."""
    import pandas as pd

    from pyspark.sql import Window

    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        md5_hash60,
    )

    cols = ("user_id", "ts", "event_id", "event_type", "value")

    def side(etype: str, out: str) -> DataFrame:
        # cap window, count window and the groupBy all partition on
        # user_id, so each side is ONE exchange end-to-end
        rows = (
            table(spark, sf_dir, "events")
            .select(*cols)
            .where(F.col("event_type") == etype)
            .withColumn(
                "side_total",
                F.count("*").over(Window.partitionBy("user_id")),
            )
        )
        by_hash = [
            md5_hash60(F.col("event_id").cast("string")), F.col("event_id")
        ]
        return (
            topk_per_group(rows, ["user_id"], by_hash, _DTW_CAP, "hrn")
            .groupBy("user_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "value")
                        )
                    ),
                    lambda s: s["value"],
                ).alias(f"{out}_seq"),
                F.first("side_total").alias(f"n_{out}"),
            )
        )

    def _dtw_batch(va, vb):
        return pd.Series(
            [round(dtw_distance(a, b), 4) for a, b in zip(va, vb)],
            dtype="float64",  # empty batches must still type as double
        )

    # no type hints: the module-wide `from __future__ import
    # annotations` turns them into strings pyspark can't resolve here
    dtw_udf = F.pandas_udf(_dtw_batch, "double")

    # inner join == the old cogroup's both-sides-present semantics
    joined = side("view", "views").join(side("purchase", "buys"), "user_id")
    return joined.select(
        "user_id",
        "n_views",
        "n_buys",
        dtw_udf(F.col("views_seq"), F.col("buys_seq")).alias("dtw_dist"),
        (
            (F.col("n_views") > _DTW_CAP) | (F.col("n_buys") > _DTW_CAP)
        ).alias("capped"),
    )


# ---------------------------------------------------------------- E34
@register(
    "touch_attribution",
    oracle="""
    WITH pairs AS (
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               epoch_us(c.ts) AS click_ts_us,
               epoch_us(p.ts) AS purchase_ts_us,
               p.value AS amount
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) > epoch_us(c.ts)
         AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
    ),
    agg AS (
        SELECT user_id, purchase_id, purchase_ts_us, amount,
               count(*) AS n_touches,
               min(click_ts_us) AS first_ts_us,
               max(click_ts_us) AS last_ts_us
        FROM pairs
        GROUP BY user_id, purchase_id, purchase_ts_us, amount
    ),
    f AS (
        SELECT p.purchase_id, min(p.click_id) AS first_click_id
        FROM pairs p JOIN agg a
          ON p.purchase_id = a.purchase_id AND p.click_ts_us = a.first_ts_us
        GROUP BY p.purchase_id
    ),
    l AS (
        SELECT p.purchase_id, max(p.click_id) AS last_click_id
        FROM pairs p JOIN agg a
          ON p.purchase_id = a.purchase_id AND p.click_ts_us = a.last_ts_us
        GROUP BY p.purchase_id
    )
    SELECT a.user_id, a.purchase_id, a.purchase_ts_us, a.amount,
           a.n_touches, a.first_ts_us, f.first_click_id,
           a.last_ts_us, l.last_click_id
    FROM agg a JOIN f USING (purchase_id) JOIN l USING (purchase_id)
    """,
)
def touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E34 — first-touch vs last-touch attribution per purchase: which
    click gets the credit under each model, plus the touch count (the
    input to position-based/U-shaped credit). Built on E7's bounded
    interval join, then ONE hash aggregate: first/last picks are
    algebraic min/max over (ts, click_id) ordering structs — arg-min
    without any per-purchase window sort (B40's max_by pattern), so
    the shuffle carries one row per (purchase, click) pair and the
    state per purchase is two structs. Tiebreaks (min id at the first
    instant, max id at the last) are pinned identically in the
    oracle's filtered picks."""
    from spotify_podcasts_airflow_batch_spark.streaming.joins import (
        click_purchase_attribution,
    )

    ev = table(spark, sf_dir, "events")
    pairs = click_purchase_attribution(ev, max_gap="30 minutes").select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "amount",
    )
    first_pick = F.min(F.struct("click_ts_us", "click_id"))
    last_pick = F.max(F.struct("click_ts_us", "click_id"))
    return (
        pairs.groupBy("user_id", "purchase_id", "purchase_ts_us", "amount")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            first_pick.alias("__f"),
            last_pick.alias("__l"),
        )
        .select(
            "user_id",
            "purchase_id",
            "purchase_ts_us",
            "amount",
            "n_touches",
            F.col("__f.click_ts_us").alias("first_ts_us"),
            F.col("__f.click_id").alias("first_click_id"),
            F.col("__l.click_ts_us").alias("last_ts_us"),
            F.col("__l.click_id").alias("last_click_id"),
        )
    )


# ---------------------------------------------------------------- E43
_EF_WINDOW_US = 30 * 60 * 1000000


@register(
    "eventually_follows",
    oracle=f"""
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(DISTINCT a.event_id) AS n_activations,
           count(DISTINCT a.user_id) AS n_users
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) - epoch_us(a.ts) <= {_EF_WINDOW_US}
    GROUP BY a.event_type, b.event_type
    """,
)
def eventually_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E43 — the process-mining eventually-follows matrix: for every
    ordered type pair (a, b), how many a-events are followed by at
    least one b within 30 minutes (counted as DISTINCT activations, so
    a burst of b's doesn't inflate the relation), and how many users
    exhibit it. E29's Markov matrix sees only ADJACENT transitions;
    this is the discovery view that finds indirect flows (view →…→
    purchase with anything between). Same bounded interval join as E7
    — one user-keyed shuffle per side, per-user fan-out capped by
    30-minute activity — feeding a distinct-count rollup of at most
    |types|² rows. In streaming form this is exactly the E7
    watermark-bounded join with a distinct aggregation on top."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    a = ev.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("event_type").alias("type_a"),
        F.col("us").alias("ta"),
    )
    b = ev.select(
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("type_b"),
        F.col("us").alias("tb"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("tb") > F.col("ta"))
        & (F.col("tb") - F.col("ta") <= _EF_WINDOW_US),
    )
    return pairs.groupBy("type_a", "type_b").agg(
        F.count_distinct("a_id").alias("n_activations"),
        F.count_distinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------- E44
_DECAY_TAU_US = 86400000000.0  # 1-day e-folding time


@register(
    "trending_decay",
    oracle=f"""
    WITH mx AS (SELECT max(epoch_us(ts)) AS tmax FROM events)
    SELECT event_type,
           count(*) AS n_events,
           round(sum(exp(-(mx.tmax - epoch_us(ts)) / {_DECAY_TAU_US})), 4)
               AS decayed_score
    FROM events, mx
    GROUP BY event_type, mx.tmax
    """,
)
def trending_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E44 — exponentially time-decayed activity score per type
    (1-day e-folding): the trending metric where yesterday's burst
    counts e-times less than today's — what a "hot right now" ranking
    actually uses instead of raw window counts (E16). One scalar
    broadcast (corpus max time) and one map-side-combinable aggregate:
    the decayed sum is a plain SUM of per-row exp terms, so it
    partial-aggregates exactly like a count — and it is MERGEABLE
    across time (old scores re-decay by a constant factor), which is
    what makes incremental refresh O(new data) at 100 TB. Sum order
    differs between engines by design; round(4) absorbs the ulps."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    mx = ev.agg(F.max("us").alias("tmax"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(
                    F.exp(-(F.col("tmax") - F.col("us")) / F.lit(_DECAY_TAU_US))
                ),
                4,
            ).alias("decayed_score"),
        )
    )


# ---------------------------------------------------------------- E45
@register(
    "conversion_ztest",
    oracle="""
    WITH u AS (
        SELECT user_id,
               (('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                & 2147483647) % 2 AS arm,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events
        GROUP BY user_id
    ),
    s AS (
        SELECT arm, count(*) AS n, sum(converted) AS c FROM u GROUP BY arm
    ),
    a AS (SELECT n, c FROM s WHERE arm = 0),
    b AS (SELECT n, c FROM s WHERE arm = 1)
    SELECT a.n AS n_a, CAST(a.c AS BIGINT) AS conv_a,
           b.n AS n_b, CAST(b.c AS BIGINT) AS conv_b,
           round(a.c / CAST(a.n AS DOUBLE) - b.c / CAST(b.n AS DOUBLE), 4)
               AS rate_diff,
           CASE WHEN a.c + b.c = 0 OR a.c + b.c = a.n + b.n THEN NULL
                ELSE round((a.c / CAST(a.n AS DOUBLE) - b.c / CAST(b.n AS DOUBLE))
                     / sqrt(((a.c + b.c) / CAST(a.n + b.n AS DOUBLE))
                            * (1.0 - (a.c + b.c) / CAST(a.n + b.n AS DOUBLE))
                            * (1.0 / a.n + 1.0 / b.n)), 4)
           END AS z_stat
    FROM a, b
    """,
)
def conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E45 — two-proportion z-test on conversion (did the user ever
    purchase?) between two hash-assigned arms: the BINARY-outcome
    experimentation primitive beside E37's continuous t-test. Arm
    membership is the engine-portable md5 split (C13's discipline —
    reproducible under repartitioning, unlike rand()), the per-user
    outcome is one max-aggregate, and the test statistic is scalar
    math over two one-row relations with the pooled-variance formula
    written identically in both engines. Cost: one user rollup,
    regardless of arm sizes."""
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        md5_hash31,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        (
            md5_hash31(F.concat(F.lit("arm:"), F.col("user_id").cast("string")))
            % 2
        ).alias("arm"),
        "converted",
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("c")
    ).persist()  # 2 rows; both arm slices read it — unpersisted each
    # would re-run the per-user conversion rollup
    a = s.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("c").alias("conv_a")
    )
    b = s.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("c").alias("conv_b")
    )
    p_a = F.col("conv_a") / F.col("n_a").cast("double")
    p_b = F.col("conv_b") / F.col("n_b").cast("double")
    pool = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a - p_b, 4).alias("rate_diff"),
        # degenerate arms (0% or 100% pooled conversion) have zero
        # pooled variance — the statistic is undefined, emit NULL
        # (ANSI Spark would otherwise raise DIVIDE_BY_ZERO)
        F.when(
            (F.col("conv_a") + F.col("conv_b") > 0)
            & (F.col("conv_a") + F.col("conv_b") < F.col("n_a") + F.col("n_b")),
            F.round(
                (p_a - p_b)
                / F.sqrt(
                    pool
                    * (1.0 - pool)
                    * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
                ),
                4,
            ),
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------- E46
@register(
    "dow_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           count(*) AS n_events,
           CAST(floor((2 * round(sum(value) * 1000000, 0) + 100 * count(*))
                      / (2 * 100 * count(*))) AS BIGINT) AS mean_value_u
    FROM events
    GROUP BY 1, 2
    """,
)
def dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E46 — the calendar activity heatmap: day-of-week × hour-of-day
    counts and mean value (integer micro-units, the HALF_UP formula) —
    the ops-dashboard matrix behind staffing and anomaly baselines.
    Pure map-side rollup to ≤ 7×24 cells; no window, no join, no float
    intermediate. DuckDB's dayofweek is 0=Sunday; Spark's dayofweek is
    1=Sunday — aligned by subtracting 1 on the Spark side."""
    ev = table(spark, sf_dir, "events").select("ts", "value")
    vu = F.floor(
        (2 * F.round(F.sum("value") * 1000000, 0) + 100 * F.count(F.lit(1)))
        / (2 * 100 * F.count(F.lit(1)))
    ).cast("long")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        vu.alias("mean_value_u"),
    )


# ---------------------------------------------------------------- E47
@register(
    "new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
        FROM events GROUP BY 1, 2
    )
    SELECT d.day,
           count(*) AS active_users,
           CAST(sum(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END)
               AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN f.first_day <> d.day THEN 1 ELSE 0 END)
               AS BIGINT) AS returning_users
    FROM daily d JOIN firsts f USING (user_id)
    GROUP BY d.day
    """,
)
def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E47 — growth accounting: per day, active users split into NEW
    (first-ever activity today) vs RETURNING — the DAU decomposition
    every growth dashboard leads with (the daily dual of E10's weekly
    cohort retention). Two rollups over one scan lineage: per-user
    first day (map-side min) and the distinct (day, user) activity
    set; the classification join is user-keyed and the first-day
    relation is |users| rows. Integer/date math only — nothing to
    round."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = ev.distinct()
    return (
        daily.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(
                (F.col("first_day") == F.col("day")).cast("long")
            ).alias("new_users"),
            F.sum(
                (F.col("first_day") != F.col("day")).cast("long")
            ).alias("returning_users"),
        )
    )


# ---------------------------------------------------------------- E48
@register(
    "spearman_corr",
    oracle="""
    WITH e AS (
        SELECT event_type, value, epoch_us(ts) AS t FROM events
    ),
    r AS (
        SELECT event_type,
               rank() OVER (PARTITION BY event_type ORDER BY value)
                 + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0
                 AS rv,
               rank() OVER (PARTITION BY event_type ORDER BY t)
                 + (count(*) OVER (PARTITION BY event_type, t) - 1) / 2.0
                 AS rt
        FROM e
    )
    SELECT event_type, count(*) AS n, round(corr(rv, rt), 4) AS spearman_rho
    FROM r GROUP BY event_type
    """,
)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E48 — Spearman rank correlation between event value and time,
    per type: the monotone-trend complement of E38's Pearson-based OLS
    (Pearson sees only linear structure; Spearman = Pearson over
    average ranks sees any monotone drift and shrugs at outliers).
    Ties get textbook average ranks — min-rank + (tie_count−1)/2 via
    one rank window plus a tie-count window on the SAME partition
    ordering, so Spark runs both in a single sort per variable. The
    two per-type sorts are the honest cost of exact ranks; the 100 TB
    relaxation is ranking against B37's quantile-sketch CDF instead.
    Ranks are exact half-integers in both engines; the final corr is
    the only float accumulation, rounded to 4 dp as in stats_summary
    (B35)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("t")
    )
    rv = F.rank().over(
        Window.partitionBy("event_type").orderBy("value")
    ) + (
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "value")) - 1
    ) / 2.0
    rt = F.rank().over(
        Window.partitionBy("event_type").orderBy("t")
    ) + (
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "t")) - 1
    ) / 2.0
    return (
        ev.select("event_type", rv.alias("rv"), rt.alias("rt"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # Pearson spelled out with try_divide instead of F.corr:
            # ANSI corr raises on zero rank variance (all-tied values,
            # i.e. a constant metric) where DuckDB corr yields NULL —
            # found by tests/test_degenerate_inputs.py
            F.round(
                F.try_divide(
                    F.covar_samp("rv", "rt"),
                    F.stddev_samp("rv") * F.stddev_samp("rt"),
                ),
                4,
            ).alias("spearman_rho"),
        )
    )


# ---------------------------------------------------------------- E49
@register(
    "mann_whitney_u",
    oracle="""
    WITH s AS (
        SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    v AS (SELECT value, count(*) AS c, sum(g) AS c1 FROM s GROUP BY value),
    w AS (
        SELECT value, c, c1,
               coalesce(sum(c) OVER (
                   ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM v
    ),
    a AS (
        SELECT CAST(sum(c1 * (2 * cum_before + c + 1)) AS BIGINT) AS r1_x2,
               CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c - c1) AS BIGINT) AS n2,
               CAST(sum(c * c * c - c) AS BIGINT) AS tie_cubes
        FROM w
    )
    SELECT n1, n2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           round(
               (0.5 * (r1_x2 - n1 * (n1 + 1)) - 0.5 * n1 * n2)
               / nullif(sqrt(
                   n1 * n2 / 12.0
                   * ((n1 + n2 + 1.0)
                      - tie_cubes / (1.0 * (n1 + n2) * (n1 + n2 - 1)))
               ), 0),
               4
           ) AS z
    FROM a
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E49 — Mann-Whitney U (Wilcoxon rank-sum) test: purchase vs view
    value distributions, the nonparametric complement of E37's Welch
    t-test (no normality assumption — detects any location shift).
    Scale-first ranking WITHOUT ranking rows: the pooled sample
    collapses to its distinct-VALUE vocabulary with per-group counts,
    and average ranks come from a cumulative-count window over that
    vocabulary — 2·avg_rank = 2·cum_before + c + 1, an INTEGER, so
    the doubled rank-sum R1·2 and U1·2 = R1·2 − 2·n1(n1+1)/2 are
    exact BIGINTs in both engines (half-integer ranks never touch a
    float). The z-score applies the standard tie correction
    Σ(c³−c)/((n)(n−1)) and is the single float expression, rounded.
    The vocabulary window is one small sort (|distinct values| rows),
    not a fact sort; at 100 TB the same shape runs on a binned value
    rollup."""
    from pyspark.sql import Window

    s = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "value",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    v = s.groupBy("value").agg(
        F.count(F.lit(1)).alias("c"), F.sum("g").alias("c1")
    )
    w_cum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    w = v.select(
        "c",
        "c1",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("cum_before"),
    )
    a = w.agg(
        F.sum(
            F.col("c1") * (2 * F.col("cum_before") + F.col("c") + 1)
        ).alias("r1_x2"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_cubes"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1_x2 = F.col("r1_x2") - n1 * (n1 + 1)
    denom = F.sqrt(
        n1 * n2 / F.lit(12.0)
        * (
            (n1 + n2 + F.lit(1.0))
            - F.col("tie_cubes") / (F.lit(1.0) * (n1 + n2) * (n1 + n2 - 1))
        )
    )
    # all-tied degenerate sample: variance 0 -> NULL z, pinned in both
    # engines via nullif (Spark ANSI would otherwise DIVIDE_BY_ZERO)
    z = F.round((0.5 * u1_x2 - 0.5 * n1 * n2) / F.nullif(denom, F.lit(0.0)), 4)
    return a.select(
        "n1", "n2", u1_x2.alias("u1_x2"), z.alias("z")
    )


# ---------------------------------------------------------------- E50
@register(
    "chi2_independence",
    oracle="""
    WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    b AS (
        SELECT event_type,
               least(CAST(floor((value - mm.lo) / ((mm.hi - mm.lo) / 10.0))
                          AS INT), 9) AS bin
        FROM events, mm
        WHERE mm.hi > mm.lo
    ),
    jt AS (SELECT event_type, bin, count(*) AS n FROM b GROUP BY 1, 2),
    mt AS (SELECT event_type, sum(n) AS n_t FROM jt GROUP BY 1),
    mb AS (SELECT bin, sum(n) AS n_b FROM jt GROUP BY 1),
    tot AS (SELECT sum(n) AS n_all,
                   count(DISTINCT event_type) AS r,
                   count(DISTINCT bin) AS c
            FROM jt)
    SELECT CAST(tot.n_all AS BIGINT) AS n_rows,
           CAST((tot.r - 1) * (tot.c - 1) AS BIGINT) AS df,
           round(sum(pow(jt.n - mt.n_t * mb.n_b / CAST(tot.n_all AS DOUBLE), 2)
                     / (mt.n_t * mb.n_b / CAST(tot.n_all AS DOUBLE))), 4)
               AS chi2
    FROM jt JOIN mt USING (event_type) JOIN mb USING (bin) CROSS JOIN tot
    GROUP BY tot.n_all, tot.r, tot.c
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E50 — Pearson chi-square test of independence between event
    type and value decile: the hypothesis-test companion of E36's
    mutual information (same contingency table, same zero-sort
    binning from a broadcast global (min, max)). χ² = Σ(O−E)²/E over
    ≤ |types|·10 cells with E = row·col/N; observed counts and df =
    (r−1)(c−1) are integers, the χ² sum is the single float reduction
    over ≤50 identical terms, rounded. At 100 TB the fact contributes
    only map-side partial counts to the tiny cell state — the test
    costs one scan regardless of N."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    mm = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    # hi > lo gate (value_drift_psi's discipline): a constant-valued
    # column would make the bin width 0 → NaN bins in Spark but a
    # CAST error in DuckDB; degenerate data yields zero rows on both.
    b = (
        ev.crossJoin(F.broadcast(mm))
        .where(F.col("hi") > F.col("lo"))
        .select(
            "event_type",
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
                F.lit(9),
            ).alias("bin"),
        )
    )
    # ≤ |types|·10 rows consumed by both marginals, the total, and the
    # final join. Unpersisted, Catalyst re-derives each consumer from
    # the fact as a narrow pruned scan + map-side partial agg — extra
    # parallel scan CPU, zero extra shuffle volume — which measured
    # 0.18 s faster cold at sf0.1 than a persist barrier here.
    jt = b.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("n"))
    mt = jt.groupBy("event_type").agg(F.sum("n").alias("n_t"))
    mb = jt.groupBy("bin").agg(F.sum("n").alias("n_b"))
    tot = jt.agg(
        F.sum("n").alias("n_all"),
        F.count_distinct("event_type").alias("r"),
        F.count_distinct("bin").alias("c"),
    )
    expected = F.col("n_t") * F.col("n_b") / F.col("n_all").cast("double")
    term = F.pow(F.col("n") - expected, 2) / expected
    return (
        jt.join(F.broadcast(mt), "event_type")
        .join(F.broadcast(mb), "bin")
        .crossJoin(F.broadcast(tot))
        .groupBy("n_all", "r", "c")
        .agg(F.round(F.sum(term), 4).alias("chi2"))
        .select(
            F.col("n_all").cast("long").alias("n_rows"),
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("df"),
            "chi2",
        )
    )


# ---------------------------------------------------------------- E51
@register(
    "ks_two_sample",
    oracle="""
    WITH s AS (
        SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    v AS (SELECT value, count(*) AS c, sum(g) AS c1 FROM s GROUP BY value),
    w AS (
        SELECT sum(c1) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
               sum(c - c1) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        FROM v
    ),
    t AS (SELECT max(cum1) AS n1, max(cum2) AS n2 FROM w)
    SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
           CAST(max(abs(w.cum1 * t.n2 - w.cum2 * t.n1)) AS BIGINT)
               AS d_scaled,
           round(max(abs(w.cum1 * t.n2 - w.cum2 * t.n1))
                 / nullif(1.0 * t.n1 * t.n2, 0.0), 4) AS d_stat,
           round(max(abs(w.cum1 * t.n2 - w.cum2 * t.n1))
                 / nullif(1.0 * t.n1 * t.n2, 0.0)
                 * sqrt(1.0 * t.n1 * t.n2 / (t.n1 + t.n2)), 4) AS ks_z
    FROM w CROSS JOIN t
    GROUP BY t.n1, t.n2
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E51 — two-sample Kolmogorov-Smirnov test (purchase vs view):
    the distribution-SHAPE test completing the two-sample toolkit
    (E37 Welch = means, E49 Mann-Whitney = location shift, KS = any
    CDF difference; E34's PSI is its binned production cousin). The
    supremum gap is computed EXACTLY in integers: over the
    distinct-value vocabulary (E49's shape), inclusive cumulative
    counts give D·n1·n2 = max|cum1·n2 − cum2·n1| — a BIGINT, no float
    CDFs compared. D itself and the scaled statistic
    D·√(n1n2/(n1+n2)) are output-only floats from identical integers.
    One vocabulary-sized window sort, never a fact sort; at 100 TB
    the same shape runs on a binned rollup (making it exactly PSI's
    sup-norm variant)."""
    from pyspark.sql import Window

    s = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "value",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    v = s.groupBy("value").agg(
        F.count(F.lit(1)).alias("c"), F.sum("g").alias("c1")
    )
    w_cum = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w = v.select(
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum(F.col("c") - F.col("c1")).over(w_cum).alias("cum2"),
    )
    t = F.broadcast(
        w.agg(F.max("cum1").alias("n1"), F.max("cum2").alias("n2"))
    )
    gap = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    # nullif-guarded: with an empty arm (zero purchases or views)
    # 0/0 is NaN in Spark but divides-by-zero differently in DuckDB —
    # both engines must emit NULL for the degenerate case (the same
    # pin mann_whitney_u already carries).
    n1n2 = F.nullif(F.lit(1.0) * F.col("n1") * F.col("n2"), F.lit(0.0))
    return (
        w.join(t)
        .groupBy("n1", "n2")
        .agg(F.max(gap).alias("mg"))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("mg").cast("long").alias("d_scaled"),
            F.round(F.col("mg") / n1n2, 4).alias("d_stat"),
            F.round(
                F.col("mg") / n1n2
                * F.sqrt(n1n2 / (F.col("n1") + F.col("n2"))),
                4,
            ).alias("ks_z"),
        )
    )


# ---------------------------------------------------------------- E52
@register(
    "forecast_backtest",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    f AS (
        SELECT event_type, day, n,
               lag(n, 1) OVER (PARTITION BY event_type ORDER BY day)
                   AS naive,
               lag(n, 7) OVER (PARTITION BY event_type ORDER BY day)
                   AS seasonal
        FROM d
    )
    SELECT event_type,
           count(*) AS n_days,
           CAST(sum(abs(n - naive)) AS BIGINT) AS sae_naive,
           CAST(sum(abs(n - seasonal)) AS BIGINT) AS sae_seasonal,
           round(sqrt(sum(1.0 * (n - naive) * (n - naive)) / count(*)), 4)
               AS rmse_naive,
           round(sqrt(sum(1.0 * (n - seasonal) * (n - seasonal))
                      / count(*)), 4) AS rmse_seasonal,
           round(sum(2.0 * abs(n - naive) / (n + naive)) / count(*), 4)
               AS smape_naive,
           round(sum(2.0 * abs(n - seasonal) / (n + seasonal)) / count(*), 4)
               AS smape_seasonal
    FROM f
    WHERE naive IS NOT NULL AND seasonal IS NOT NULL
    GROUP BY event_type
    """,
)
def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E52 — forecast baseline backtest per event type: naive (lag-1)
    vs seasonal-naive (lag-7, same weekday) daily-count forecasts
    scored with MAE / RMSE / sMAPE over the common horizon — the
    M-competition sanity check every forecasting deployment runs
    before anything fancier (if seasonal-naive doesn't beat naive,
    there's no weekly seasonality to model; compare E22's
    hourly_seasonality). The fact collapses to the (type, day) count
    rollup (map-side combined), lag windows run on that tiny grid,
    and the error aggregates are integer sums (SAE exact BIGINT) plus
    per-day float ratios rounded at 4 dp. Daily counts never shuffle
    twice: one rollup, one |types|-partition window, one agg."""
    from pyspark.sql import Window

    d = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    f = d.select(
        "event_type",
        "n",
        F.lag("n", 1).over(w).alias("naive"),
        F.lag("n", 7).over(w).alias("seasonal"),
    ).where(F.col("naive").isNotNull() & F.col("seasonal").isNotNull())
    e_n = F.col("n") - F.col("naive")
    e_s = F.col("n") - F.col("seasonal")
    cnt = F.count(F.lit(1))
    return f.groupBy("event_type").agg(
        cnt.alias("n_days"),
        F.sum(F.abs(e_n)).cast("long").alias("sae_naive"),
        F.sum(F.abs(e_s)).cast("long").alias("sae_seasonal"),
        F.round(F.sqrt(F.sum(F.lit(1.0) * e_n * e_n) / cnt), 4).alias(
            "rmse_naive"
        ),
        F.round(F.sqrt(F.sum(F.lit(1.0) * e_s * e_s) / cnt), 4).alias(
            "rmse_seasonal"
        ),
        F.round(
            F.sum(F.lit(2.0) * F.abs(e_n) / (F.col("n") + F.col("naive")))
            / cnt,
            4,
        ).alias("smape_naive"),
        F.round(
            F.sum(
                F.lit(2.0) * F.abs(e_s) / (F.col("n") + F.col("seasonal"))
            )
            / cnt,
            4,
        ).alias("smape_seasonal"),
    )


# ---------------------------------------------------------------- E53
@register(
    "cohort_ltv",
    oracle="""
    WITH ur AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM events GROUP BY 1, 2
    ),
    co AS (SELECT user_id, min(wk) AS cohort_week FROM ur GROUP BY 1),
    cell AS (
        SELECT cohort_week, wk - cohort_week AS age_week,
               CAST(sum(rev_c) AS BIGINT) AS rev_c
        FROM ur JOIN co USING (user_id) GROUP BY 1, 2
    ),
    sz AS (SELECT cohort_week, count(*) AS cohort_size FROM co GROUP BY 1)
    SELECT cohort_week, age_week, cohort_size,
           CAST(sum(rev_c) OVER (
               PARTITION BY cohort_week ORDER BY age_week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_rev_cents,
           round(sum(rev_c) OVER (
               PARTITION BY cohort_week ORDER BY age_week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / (100.0 * cohort_size), 4) AS ltv_per_user
    FROM cell JOIN sz USING (cohort_week)
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E53 — cohort LTV curves: cumulative revenue per user by cohort
    age, the money complement of E10's retention counts (same
    epoch-week cohorting) — the curve whose asymptote IS customer
    lifetime value. Revenue quantizes to per-row integer CENTS before
    any sum, so every aggregate up to the cumulative window is exact
    BIGINT in both engines; the per-user division is the single float,
    rounded. Shuffle discipline: one fact shuffle to the (user, week)
    rollup, one user-sized shuffle for cohort assignment, then all
    windows run on the cohort×age GRID (≤ weeks² rows). At 100 TB the
    grid is still tiny — the curve costs two rollups regardless of
    event volume."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    wk = F.floor(F.col("ts").cast("long") / 604800)
    rev_c = F.round(F.col("value") * 100, 0).cast("long")
    ur = (
        ev.select("user_id", wk.alias("wk"), rev_c.alias("rc"))
        .groupBy("user_id", "wk")
        .agg(F.sum("rc").alias("rev_c"))
    )
    per_user = ur.groupBy("user_id").agg(
        F.min("wk").alias("cohort_week"),
        F.collect_list(F.struct("wk", "rev_c")).alias("cells"),
    )  # one row per user; the sizes branch re-derives as a pruned
    # 2-column scan + direct min-agg (no collect_list) — cheaper than
    # a persist barrier, measured -0.15 s cold at sf0.1
    cell = (
        per_user.select(
            "cohort_week", F.explode("cells").alias("c")
        )
        .groupBy(
            "cohort_week",
            (F.col("c.wk") - F.col("cohort_week")).alias("age_week"),
        )
        .agg(F.sum("c.rev_c").alias("rev_c"))
    )
    sz = per_user.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("rev_c").over(w)
    return (
        cell.join(F.broadcast(sz), "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "cohort_size",
            cum.alias("cum_rev_cents"),
            F.round(
                cum / (F.lit(100.0) * F.col("cohort_size")), 4
            ).alias("ltv_per_user"),
        )
    )


# ---------------------------------------------------------------- E54
@register(
    "jackknife_ci",
    oracle="""
    WITH blk AS (
        SELECT event_id % 10 AS b,
               count(*) AS n_b,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS s_b
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_b) AS BIGINT) AS n,
               CAST(sum(s_b) AS BIGINT) AS s,
               count(*) AS g
        FROM blk
    ),
    loo AS (
        SELECT (s - s_b) / (100.0 * (n - n_b)) AS theta_j, g
        FROM blk CROSS JOIN tot
    )
    SELECT tot.n AS n_rows, tot.g AS n_blocks,
           round(tot.s / (100.0 * tot.n), 4) AS mean_value,
           round(sqrt((max(loo.g) - 1.0) / max(loo.g)
                 * sum(pow(theta_j - (SELECT avg(theta_j) FROM loo), 2))),
                 4) AS jackknife_se
    FROM loo CROSS JOIN tot
    GROUP BY tot.n, tot.g, tot.s
    """,
)
def jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E54 — delete-one-block jackknife standard error of the mean
    event value: resampling-based uncertainty WITHOUT resampling —
    the estimator the other tests (E37/E45/E49) assume a closed-form
    variance for, here derived empirically, and the only resampling
    scheme that is embarrassingly distributable (bootstrap needs R
    full passes or Poisson weights; the jackknife needs ONE pass into
    g hash blocks). Each leave-one-block-out mean θ_(j) = (S−S_j)/
    (n−n_j) comes from exact integer-cent block sums (one map-side-
    combined rollup to 10 rows), SE² = (g−1)/g·Σ(θ_(j)−θ̄)². Block
    assignment is event_id % 10, NOT an engine hash() — Spark and
    DuckDB hash functions differ, and the modulo of the sequential id
    is both cross-engine-identical and balanced. At 100 TB: one scan,
    10-row state, embarrassingly parallel."""
    ev = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 10).alias("b"),
        F.round(F.col("value") * 100, 0).cast("long").alias("rc"),
    )
    blk = ev.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("rc").alias("s_b")
    )  # 10 rows; totals AND the leave-one-out join reuse its shuffle
    tot = F.broadcast(
        blk.agg(
            F.sum("n_b").alias("n"),
            F.sum("s_b").alias("s"),
            F.count(F.lit(1)).alias("g"),
        )
    )
    loo = blk.join(tot).select(
        ((F.col("s") - F.col("s_b")) / (100.0 * (F.col("n") - F.col("n_b"))))
        .alias("theta_j"),
        "n",
        "g",
        "s",
    )  # 10 rows; the jackknife mean AND the SE agg reuse the same plan
    mean_theta = F.broadcast(loo.agg(F.avg("theta_j").alias("tbar")))
    return (
        loo.join(mean_theta)
        .groupBy("n", "g", "s")
        .agg(
            F.round(
                F.sqrt(
                    (F.max("g") - 1.0)
                    / F.max("g")
                    * F.sum(F.pow(F.col("theta_j") - F.col("tbar"), 2))
                ),
                4,
            ).alias("jackknife_se")
        )
        .select(
            F.col("n").alias("n_rows"),
            F.col("g").alias("n_blocks"),
            F.round(F.col("s") / (100.0 * F.col("n")), 4).alias("mean_value"),
            "jackknife_se",
        )
    )


# ---------------------------------------------------------------- E55
@register(
    "interarrival_stats",
    oracle="""
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT event_type,
           count(gap_us) AS n_gaps,
           CAST(floor((2 * sum(gap_us) + count(gap_us))
                      / (2 * count(gap_us))) AS BIGINT) AS mean_gap_us,
           CAST(round(median(gap_us), 0) AS BIGINT) AS median_gap_us,
           round(stddev_samp(gap_us) / (sum(gap_us) * 1.0 / count(gap_us)),
                 4) AS cv
    FROM g
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E55 — arrival-process characterization: per-user inter-event
    gaps grouped by the arriving event's type — mean / median gap and
    the coefficient of variation, the burstiness dial (CV ≈ 1 =
    Poisson arrivals, CV > 1 = bursty sessions then silence, CV < 1 =
    regular/robotic — a bot signal next to E29's transition matrix).
    Gaps are exact integer MICROSECONDS from one lag window per user
    (the sessionize sort, reused shape; ties pinned on event_id);
    the mean is the integer HALF_UP micro formula, the median an
    exact percentile on integers (round(…,0) writes the same .5
    convention in both engines), and CV is the one float, from
    algebraic (n, Σ, Σ²) state — map-side combinable, so the only
    sort is the per-user window."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts",
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    n = F.count("gap_us")
    return g.groupBy("event_type").agg(
        n.alias("n_gaps"),
        F.floor((2 * F.sum("gap_us") + n) / (2 * n))
        .cast("long")
        .alias("mean_gap_us"),
        F.round(F.expr("percentile(gap_us, 0.5D)"), 0)
        .cast("long")
        .alias("median_gap_us"),
        # try_divide ≡ DuckDB NULL-on-zero: simultaneous events give
        # all-zero gaps → zero mean gap → CV undefined, not a crash
        F.round(
            F.try_divide(
                F.stddev_samp("gap_us"),
                F.sum("gap_us") * F.lit(1.0) / n,
            ),
            4,
        ).alias("cv"),
    )


# ---------------------------------------------------------------- E56
@register(
    "path_trigrams",
    oracle="""
    WITH t AS (
        SELECT event_type AS t1,
               lead(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t2,
               lead(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t3
        FROM events
    )
    SELECT t1, t2, t3, count(*) AS n
    FROM t
    WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    HAVING count(*) >= 5
    """,
)
def path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E56 — third-order sequential patterns: consecutive event-type
    trigrams across user journeys with support ≥ 5 — one order deeper
    than E29's transition matrix (bigrams), the level where funnels
    with a detour (view→error→view) become visible and a 2nd-order
    Markov model gets its training counts. Two lead windows share ONE
    per-user sort (same partition ordering ⇒ Spark plans a single
    Window node), the trigram rollup is map-side combined, and the
    support cut is an integer count — exact cross-engine. |types|³
    bounds the result regardless of event volume."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("event_type").alias("t1")
    )
    t = ev.select(
        "t1",
        F.lead("t1", 1).over(w).alias("t2"),
        F.lead("t1", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    return (
        t.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 5)
    )


# ---------------------------------------------------------------- E57
@register(
    "diff_in_diff",
    oracle="""
    WITH cell AS (
        SELECT user_id % 2 AS treat,
               CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END AS period,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS s_c,
               var_samp(CAST(round(value * 100, 0) AS BIGINT) / 100.0)
                   AS v
        FROM events
        GROUP BY 1, 2
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           round(  sum(CASE WHEN treat = 1 AND period = 1
                       THEN s_c / (100.0 * n) END)
                 - sum(CASE WHEN treat = 1 AND period = 0
                       THEN s_c / (100.0 * n) END)
                 - sum(CASE WHEN treat = 0 AND period = 1
                       THEN s_c / (100.0 * n) END)
                 + sum(CASE WHEN treat = 0 AND period = 0
                       THEN s_c / (100.0 * n) END), 4) AS did_estimate,
           round(sqrt(sum(v / n)), 4) AS did_se
    FROM cell
    """,
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E57 — difference-in-differences: the causal-inference estimator
    for "did the thing we shipped mid-month move the metric", robust
    to level differences between arms AND to time trends hitting both
    arms (the two confounders E37/E45's single-period tests can't
    separate). Arms are id-parity (E54's cross-engine-safe
    assignment), the period cut is the fixed mid-range timestamp, and
    DiD = (T₁−T₀) − (C₁−C₀) over the four cell means. One map-side-
    combined rollup to FOUR cells carries everything: cell sums in
    exact integer cents (means divide identical integers), cell
    variances as algebraic state for the standard error
    √Σ(σ²ᵢ/nᵢ). A 2×2 aggregate regardless of data volume — the
    cheapest causal estimate there is."""
    ev = table(spark, sf_dir, "events")
    rc = F.round(F.col("value") * 100, 0).cast("long")
    cell = ev.select(
        (F.col("user_id") % 2).alias("treat"),
        F.when(
            F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("period"),
        rc.alias("rc"),
    ).groupBy("treat", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rc").alias("s_c"),
        F.var_samp(F.col("rc") / 100.0).alias("v"),
    )
    mean_of = lambda t, p: F.sum(
        F.when(
            (F.col("treat") == t) & (F.col("period") == p),
            F.col("s_c") / (100.0 * F.col("n")),
        )
    )
    return cell.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.round(
            mean_of(1, 1) - mean_of(1, 0) - mean_of(0, 1) + mean_of(0, 0), 4
        ).alias("did_estimate"),
        F.round(F.sqrt(F.sum(F.col("v") / F.col("n"))), 4).alias("did_se"),
    )


# ---------------------------------------------------------------- E58
@register(
    "cross_correlation",
    oracle="""
    WITH h AS (
        SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS x,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events
        WHERE event_type IN ('error', 'purchase')
        GROUP BY 1
    ),
    l AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag)
    SELECT l.lag,
           count(*) AS n_hours,
           round(corr(a.x, b.y), 4) AS ccf
    FROM l
    JOIN h a ON TRUE
    JOIN h b ON b.hr = a.hr + l.lag
    GROUP BY l.lag
    """,
)
def cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E58 — lead-lag cross-correlation between the hourly error and
    purchase count series at lags −3..+3 h: the discovery query for
    "which metric moves FIRST" (a peak at positive lag = errors lead
    purchase drops; E30's autocorrelation is the self-paired special
    case). The fact collapses to ONE hourly two-column rollup (the
    CASE pivot shares the scan); each lag is an integer-shifted
    self-equi-join of that tiny grid — |hours|·|lags| pairs, never
    the fact. Counts are integers, so corr is the single float
    reduction per lag, rounded as everywhere. At 100 TB: same grid,
    same cost — the rollup is the only fact-sized stage."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("error", "purchase"))
        .select(
            F.floor(F.col("ts").cast("long") / 3600).alias("hr"),
            F.when(F.col("event_type") == "error", 1).otherwise(0).alias("ex"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("py"),
        )
    )
    h = ev.groupBy("hr").agg(
        F.sum("ex").alias("x"), F.sum("py").alias("y")
    )  # tiny grid feeds all 7 lag joins; they share its broadcast,
    # and the remaining re-derivation is one extra narrow fact pass —
    # measured 0.08 s cheaper cold than persisting the grid
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in (-3, -2, -1, 0, 1, 2, 3)])).alias(
            "lag"
        )
    )
    a = h.select(F.col("hr").alias("ha"), "x")
    b = h.select(F.col("hr").alias("hb"), "y")
    return (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("ha") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(F.corr("x", "y"), 4).alias("ccf"),
        )
    )


# ---------------------------------------------------------------- E59
_RATE_WINDOW_US = 3_600_000_000  # 1 hour, microseconds


@register(
    "rate_limit_audit",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    r AS (
        SELECT user_id,
               count(*) OVER (
                   PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN {_RATE_WINDOW_US - 1} PRECEDING
                         AND CURRENT ROW) AS c
        FROM e
    ),
    p AS (
        SELECT user_id, CAST(max(c) AS BIGINT) AS peak_events_per_hour
        FROM r GROUP BY user_id
    )
    SELECT user_id, peak_events_per_hour
    FROM p
    ORDER BY peak_events_per_hour DESC, user_id
    LIMIT 20
    """,
)
def rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E59 — peak sliding-window request rate per user: for every
    event, count the user's events in the trailing hour (exact sliding
    window, not tumbling — a burst straddling a bucket edge is NOT
    halved), keep each user's maximum, report the top 20 burstiest
    users. The rate-limiter/capacity-sizing audit: tumbling-window
    counts (E1) under-read the true peak by up to 2x.

    One |events| shuffle to (user, time)-sorted partitions; the
    trailing count is a RANGE-frame window over integer microseconds
    (engine-exact, tie-safe: same-microsecond events land in one
    frame), then a per-user max and a 20-row ordered take. Integer
    end-to-end; ties at the cut broken by user_id."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-(_RATE_WINDOW_US - 1), 0)
    )
    peak = (
        e.select("user_id", F.count(F.lit(1)).over(w).alias("c"))
        .groupBy("user_id")
        .agg(F.max("c").alias("peak_events_per_hour"))
    )
    return peak.orderBy(
        F.desc("peak_events_per_hour"), F.asc("user_id")
    ).limit(20)


# ---------------------------------------------------------------- E60
@register(
    "rolling_active_users",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               user_id
        FROM events
    ),
    dau AS (SELECT day, count(*) AS dau FROM pairs GROUP BY day),
    wau AS (
        SELECT d.day, count(DISTINCT p.user_id) AS wau
        FROM dau d JOIN pairs p
          ON p.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    )
    SELECT d.day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           CAST(d.dau * 10000 // w.wau AS BIGINT) AS stickiness_bp
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E60 — DAU / trailing-7-day WAU / stickiness per epoch day: the
    product-analytics engagement triple. Stickiness = DAU/WAU in basis
    points — the "how many weekly users show up on a given day" number
    (E10's retention cohorts answer a different question: how long
    users last after their first week).

    The fact deflates once to distinct (day, user) pairs — the only
    events-sized shuffle. The trailing-7-day distinct count is a
    banded join of the |days| spine against that pair relation
    (7× |pairs| expansion, the B34 range-join discipline; a RANGE
    window can't express a rolling DISTINCT). Integer end-to-end."""
    ev = table(spark, sf_dir, "events")
    pairs = (
        ev.select(
            F.floor(F.col("ts").cast("long") / 86400)
            .cast("long")
            .alias("day"),
            "user_id",
        )
        .distinct()
        # the only events-sized shuffle; the banded join reuses it
        # (ReusedExchange in the final AQE plan) and the DAU branch
        # re-derives as a pruned scan + partial agg — persisting it
        # instead doubled the cold wall at sf0.1 (0.36 → 0.74 s)
    )
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    p = pairs.select(F.col("day").alias("pday"), "user_id")
    wau = (
        dau.select("day")
        .join(
            p,
            (F.col("pday") >= F.col("day") - 6)
            & (F.col("pday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("dau * 10000 div wau").alias("stickiness_bp"),
        )
    )


# ---------------------------------------------------------------- E61
@register(
    "conversion_latency",
    oracle="""
    WITH pairs AS (
        SELECT p.event_id AS purchase_id,
               min(epoch_us(p.ts) - epoch_us(c.ts)) AS gap_us
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) > epoch_us(c.ts)
         AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
        GROUP BY p.event_id
    ),
    c AS (
        SELECT gap_us // 1000000 AS gap_s, count(*) AS n
        FROM pairs GROUP BY gap_us // 1000000
    ),
    cum AS (
        SELECT gap_s, n,
               sum(n) OVER (ORDER BY gap_s) AS cn,
               sum(n) OVER ()               AS t,
               sum(gap_s * n) OVER ()       AS sg
        FROM c
    )
    SELECT CAST(max(t) AS BIGINT)  AS n_conversions,
           CAST(min(gap_s) AS BIGINT) AS min_s,
           CAST(min(CASE WHEN 2 * cn >= t THEN gap_s END) AS BIGINT)
               AS median_s,
           CAST(min(CASE WHEN 10 * cn >= 9 * t THEN gap_s END) AS BIGINT)
               AS p90_s,
           CAST(max(gap_s) AS BIGINT) AS max_s,
           CAST(max(sg) * 100 // max(t) AS BIGINT) AS avg_s_x100
    FROM cum
    """,
)
def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E61 — time-to-convert distribution: each purchase's gap to its
    NEAREST preceding click inside E7's 30-minute attribution window,
    rolled to exact min/median/p90/max/centi-second-average. The SLA
    half of the funnel story: E7 says WHICH click converted, this says
    HOW FAST conversions happen (the number a latency budget or an
    abandonment hypothesis is tested against).

    The pair join is E7's user-key hash join; the per-purchase min
    collapses it map-side, gaps quantize to integer whole seconds, and
    the percentiles reuse the B67 cum-count crossing on a |distinct
    gap_s| rollup — no interpolation, no fact-sized sort, one
    single-partition window over at most 1800 rows."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.unix_micros("ts").alias("cts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_micros("ts").alias("pts")
    )
    pairs = (
        p.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("pts") > F.col("cts"))
            & (F.col("pts") - F.col("cts") <= 1_800_000_000),
        )
        .groupBy("event_id")
        .agg(F.min(F.col("pts") - F.col("cts")).alias("gap_us"))
    )
    cc = (
        pairs.select(F.expr("gap_us div 1000000").alias("gap_s"))
        .groupBy("gap_s")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("gap_s").rangeBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = cc.select(
        "gap_s",
        "n",
        F.sum("n").over(w).alias("cn"),
        F.sum("n").over(wall).alias("t"),
        F.sum(F.col("gap_s") * F.col("n")).over(wall).alias("sg"),
    )
    return cum.agg(
        F.max("t").alias("n_conversions"),
        F.min("gap_s").alias("min_s"),
        F.min(F.when(2 * F.col("cn") >= F.col("t"), F.col("gap_s"))).alias(
            "median_s"
        ),
        F.min(
            F.when(10 * F.col("cn") >= 9 * F.col("t"), F.col("gap_s"))
        ).alias("p90_s"),
        F.max("gap_s").alias("max_s"),
        F.expr("max(sg) * 100 div max(t)").alias("avg_s_x100"),
    )


# ---------------------------------------------------------------- E63
_MKV_ITERS = 30


def _markov_oracle() -> str:
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # iteration references its predecessor twice — inlined, the
    # 30-step chain re-expands the whole upstream tree exponentially
    # (observed as fd exhaustion re-opening the parquet view)
    head = """
    WITH seq AS MATERIALIZED (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    t AS MATERIALIZED (
        SELECT prev_type AS src, event_type AS dst, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    tot AS MATERIALIZED (SELECT src, sum(n) AS nf FROM t GROUP BY src),
    p AS MATERIALIZED (
        SELECT t.src, t.dst, t.n / tot.nf AS pr FROM t JOIN tot USING (src)),
    st AS MATERIALIZED (SELECT DISTINCT s
           FROM (SELECT src AS s FROM p UNION SELECT dst AS s FROM p)),
    dang AS MATERIALIZED (
        SELECT s FROM st WHERE s NOT IN (SELECT src FROM p)),
    x0 AS MATERIALIZED (
        SELECT s, 1.0 / (SELECT count(*) FROM st) AS r FROM st)"""
    step = """,
    x{n} AS MATERIALIZED (
        SELECT st.s AS s,
               coalesce((SELECT sum(xp.r * p.pr)
                         FROM p JOIN x{p} xp ON xp.s = p.src
                         WHERE p.dst = st.s), 0.0)
               + coalesce((SELECT xp.r FROM x{p} xp JOIN dang ON dang.s = xp.s
                           WHERE xp.s = st.s), 0.0) AS r
        FROM st
    )"""
    parts = [head]
    for i in range(_MKV_ITERS):
        parts.append(step.format(n=i + 1, p=i))
    parts.append(
        f"""
    SELECT s AS event_type, round(r, 6) + 0 AS stationary_p FROM x{_MKV_ITERS}
    """
    )
    return "".join(parts)


@register("markov_stationary", oracle=_markov_oracle())
def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E63 — stationary distribution of the E29 behavior chain: the
    long-run share of time a user's event stream spends in each state,
    found by power-iterating pi <- pi.P on the row-normalized
    transition matrix. E29 gives the one-step model; this gives its
    fixed point — the steady-state mix that capacity plans and
    engagement forecasts quote (states whose stationary mass exceeds
    their observed event share are ATTRACTORS users drift toward).

    Same two-tier discipline as D10's PageRank: the DISTRIBUTED work
    is collapsing the fact to the |types|^2 transition matrix (one
    user-key window shuffle — at 100 TB still the entire cost); the
    contracted matrix is a bounded relation, so iterating it on the
    driver in deterministic sorted order beats burning a cluster
    round-trip per iteration on ~36 edges. Dangling states (never a
    source) self-loop — identically in both engines. Ranks quantize
    HALF-UP to 6dp exactly as D10 (Python round() is half-even; the
    oracle's round() is half-up)."""
    import math

    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    t = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = sorted((r.src, r.dst, r.n) for r in t.collect())
    states = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    nf: dict = {}
    for s, _, n in rows:
        nf[s] = nf.get(s, 0) + n
    pr = [(s, d, n / nf[s]) for s, d, n in rows]
    dang = [s for s in states if s not in nf]
    x = {s: 1.0 / len(states) for s in states}
    for _ in range(_MKV_ITERS):
        nx = {s: 0.0 for s in states}
        for s, d, p_ in pr:
            nx[d] += x[s] * p_
        for s in dang:
            nx[s] += x[s]
        x = nx
    out = [(s, math.floor(x[s] * 1e6 + 0.5) / 1e6 + 0.0) for s in states]
    return spark.createDataFrame(out, "event_type string, stationary_p double")


# ---------------------------------------------------------------- E64
# Poisson bootstrap: the one-pass distributed bootstrap. Classical
# resampling draws B datasets WITH replacement — impossible to
# coordinate across a 1000-executor scan. The Poisson trick replaces
# each draw with an independent per-(row, replicate) Poisson(1)
# weight: every row computes its B weights locally from a hash, the
# per-replicate sums ride ONE map-side-combinable aggregate, and the
# shuffle is |groups|·B rows no matter the fact size. Weights are
# deterministic (md5 → uniform → inverse CDF), so the whole estimator
# is reproducible and SQL-twin-able; sums/counts/means stay in exact
# integer cents (truncating div on both engines).
_BOOT_B = 40  # replicates; 95% CI = 2nd smallest / 2nd largest mean
_BOOT_LO_RANK = 2
# Poisson(1) inverse-CDF thresholds: cumulative e^-1 * Σ 1/k!.
# Written as literal doubles so both engines fold the identical
# constant; u sits on the k/(2^31-1) grid, which never hits these
# irrational cut points, so the comparison is boundary-safe.
_BOOT_CDF = (
    0.36787944117144233,  # k = 0
    0.7357588823428847,   # k = 1
    0.9196986029286058,   # k = 2
    0.9810118431238462,   # k = 3
    0.9963401531726563,   # k = 4
    0.9994058151824183,   # k = 5
)


def _boot_w_sql(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_BOOT_CDF)
    )
    return f"(CASE {arms} ELSE {len(_BOOT_CDF)} END)"


def _boot_u_sql(h31: str, b: str) -> str:
    """Replicate-b uniform from ONE per-row md5: the b-th member of
    the universal family applied to the row hash — 1 md5 + B cheap
    arithmetic hashes per row instead of B md5s (the minhash
    discipline; measured 23.7 s -> 1.96 s at sf0.1)."""
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        universal_family,
    )

    fam = universal_family(_BOOT_B)
    arms = " ".join(
        f"WHEN {k} THEN (({a} * {h31} + {bb}) % 2147483647)"
        for k, (a, bb) in enumerate(fam)
    )
    return f"(CASE {b} {arms} END)"


@register(
    "bootstrap_ci",
    oracle=f"""
    WITH rows_c AS (
        SELECT l_returnflag AS grp,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
               {oracle_hash31(
                   "'boot:' || CAST(l_orderkey AS VARCHAR) || ':'"
                   " || CAST(l_linenumber AS VARCHAR)"
               )} AS h31
        FROM lineitem
    ),
    weighted AS (
        SELECT r.grp, b.b,
               {_boot_w_sql("(" + _boot_u_sql("r.h31", "b.b") + " / 2147483647.0)")} AS w,
               r.c
        FROM rows_c r
        CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
    ),
    reps AS (
        SELECT grp, b,
               CASE WHEN sum(w) = 0 THEN 0
                    ELSE sum(w * c) // sum(w) END AS mean_c
        FROM weighted GROUP BY grp, b
    ),
    ranked AS (
        SELECT grp, mean_c,
               row_number() OVER (PARTITION BY grp ORDER BY mean_c, b)
                   AS rk
        FROM reps
    ),
    point AS (
        SELECT grp, sum(c) // count(*) AS point_mean_c
        FROM rows_c GROUP BY grp
    )
    SELECT p.grp AS l_returnflag,
           CAST(p.point_mean_c AS BIGINT) AS point_mean_c,
           CAST(lo.mean_c AS BIGINT) AS ci_lo_c,
           CAST(hi.mean_c AS BIGINT) AS ci_hi_c,
           CAST({_BOOT_B} AS INT) AS n_replicates
    FROM point p
    JOIN ranked lo ON lo.grp = p.grp AND lo.rk = {_BOOT_LO_RANK}
    JOIN ranked hi ON hi.grp = p.grp
                  AND hi.rk = {_BOOT_B + 1 - _BOOT_LO_RANK}
    """,
)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E64 — Poisson-bootstrap 95% CI of mean extended price (integer
    cents) per return flag: B=40 replicates, each row contributing a
    deterministic hash-derived Poisson(1) weight per replicate, CI =
    the 2nd smallest / 2nd largest replicate mean (percentile
    bootstrap). See the section comment for why this is THE bootstrap
    that scales: weights are computed row-locally in the scan, the
    aggregate is map-side-combinable, and the shuffle carries
    |groups|·B rows at any corpus size — the same pass that computes
    one mean computes all 40.

    Exactness: cents quantize per row (floor(x·100 + 0.5), pure
    IEEE); weights come from a CASE over literal CDF constants that
    the u-grid can never equal; replicate and point means use
    truncating integer division on both engines — every reported
    value is an exact BIGINT."""
    from pyspark.sql import Window

    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        MERSENNE_31,
        md5_hash31,
        universal_family,
    )

    rows_c = (
        table(spark, sf_dir, "lineitem")
        # the oracle's inner joins on grp drop a NULL group; filtering
        # here keeps the single-pipeline form value-identical (and
        # matches the IsNotNull the joins pushed into the old plan)
        .where(F.col("l_returnflag").isNotNull())
        .select(
            F.col("l_returnflag").alias("grp"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("c"),
            # ONE md5 per row; replicate uniforms derive arithmetically
            # from it via the universal family (the minhash discipline) —
            # B md5s per row measured 23.7 s at sf0.1, this plan 1.96 s
            md5_hash31(
                F.concat(
                    F.lit("boot:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            ).alias("h31"),
        )
    )
    fam = universal_family(_BOOT_B)
    a_arr = F.array(*[F.lit(a) for a, _ in fam])
    b_arr = F.array(*[F.lit(bb) for _, bb in fam])
    u = (
        (
            F.element_at(a_arr, F.col("b") + 1) * F.col("h31")
            + F.element_at(b_arr, F.col("b") + 1)
        )
        % F.lit(MERSENNE_31)
    ) / F.lit(2147483647.0)
    w = F.lit(len(_BOOT_CDF))
    for k in range(len(_BOOT_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_BOOT_CDF[k]), F.lit(k)).otherwise(w)
    # ONE pipeline (round 11; guide §2.4 "remove shuffles outright" /
    # §1.2 "how many full passes are unavoidable": one). The old shape
    # ran the scan→explode→aggregate subtree THREE times — the lo and
    # hi rank filters each rebuilt it for their broadcast join side,
    # and the point mean re-scanned lineitem (3 parquet scans in
    # plans/r11/bootstrap_ci_before.txt). Since the explode emits every
    # raw row exactly once per replicate b, the per-(grp, b) aggregate
    # can carry the UNWEIGHTED sum(c) and count too — identical long
    # sums for every b — so the point mean needs no second scan, and
    # the 2nd-smallest/2nd-largest replicate means collapse into one
    # conditional rollup after the rank window instead of two
    # join-back branches: 1 scan, 2 exchanges, no broadcasts.
    reps = (
        rows_c.select(
            "grp", "c", "h31",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        )
        .withColumn("__w", w)
        .groupBy("grp", "b")
        .agg(
            F.sum(F.col("__w") * F.col("c")).alias("num"),
            F.sum("__w").alias("den"),
            # unweighted group sums ride the same aggregate: the
            # explode repeats each raw row once per b, so per (grp, b)
            # these equal the raw per-grp sums — exact long addition,
            # any b slice (the final max() picks the common value)
            F.sum("c").alias("sc"),
            F.count(F.lit(1)).alias("nc"),
        )
        .select(
            "grp",
            "b",
            "sc",
            "nc",
            F.when(F.col("den") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr("num div den"))
            .alias("mean_c"),
        )
    )
    rk = Window.partitionBy("grp").orderBy("mean_c", "b")
    ranked = reps.withColumn("rk", F.row_number().over(rk))
    return (
        ranked.groupBy("grp")
        .agg(
            F.expr("max(sc) div max(nc)").alias("point_mean_c"),
            F.max(
                F.when(F.col("rk") == _BOOT_LO_RANK, F.col("mean_c"))
            ).alias("ci_lo_c"),
            F.max(
                F.when(
                    F.col("rk") == _BOOT_B + 1 - _BOOT_LO_RANK,
                    F.col("mean_c"),
                )
            ).alias("ci_hi_c"),
        )
        .select(
            F.col("grp").alias("l_returnflag"),
            F.col("point_mean_c").cast("long"),
            F.col("ci_lo_c").cast("long"),
            F.col("ci_hi_c").cast("long"),
            F.lit(_BOOT_B).cast("int").alias("n_replicates"),
        )
    )
