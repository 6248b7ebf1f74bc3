"""Time-series / path / sketch-table / statistics analytics
(SURVEY.md §2 E17-E25, E32, E35-E42, C34) — the monitoring,
exploration, and experimentation queries a production event pipeline
runs beside its windowed aggregates: rolling robust statistics,
equi-depth distribution summaries, autocorrelation diagnostics,
entry-path mining, percentile normalization, drift (PSI) and
changepoint (CUSUM) monitors, winsorization, drawdown, mutual
information, Welch t-tests, closed-form OLS, Kaplan-Meier survival,
seasonal decomposition, interpolating gap fill, and the
pre-aggregated-sketch pattern that makes "distinct users over any date
range" an O(days) query instead of an O(events) rescan.

Reference parity: the reference's chart dataset is exactly this shape
(daily observations per region, `spotify_eps_dag.py`) — these are the
analyses its consumers run on the published dataset; here they run
distributed instead of in a notebook over the CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.stats import (
    anova_tail,
    anova_tail_sql,
)
from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.plans.events import window_start
from spotify_podcasts_airflow_batch_spark.sources.readers import table


@register(
    "rolling_median",
    oracle="""
    SELECT event_id, user_id,
           round(median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS roll_median
    FROM events
    """,
)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 — 7-row rolling exact median per user (robust smoothing; the
    outlier-immune dual of a moving average). One shuffle on user_id;
    the frame sort is per-key and the median is exact-interpolated, so
    it hash-matches DuckDB's ``median`` bit-for-bit after rounding. At
    100 TB the per-key window state is 7 rows — constant."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("roll_median"),
    )


@register(
    "equi_depth_histogram",
    oracle="""
    WITH b AS (
        SELECT event_type, value,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS bucket
        FROM events
    )
    SELECT event_type, bucket,
           count(*)             AS n_rows,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM b GROUP BY event_type, bucket
    """,
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 — equi-depth (equal-count) 10-bucket histogram per type: the
    complement of E11's equi-width bins, and exactly what an optimizer
    stores as column statistics. ntile's total order is tie-broken on
    event_id so both engines assign identical buckets. The per-type
    sort is the unavoidable cost of exact depth buckets; the approximate
    scale path is B37's GK sketch."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(10).over(w).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@register(
    "ts_autocorr",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS hr,
               avg(value) AS v
        FROM events GROUP BY 1, 2
    ), lagged AS (
        SELECT event_type, v,
               lag(v) OVER (PARTITION BY event_type ORDER BY hr) AS v_prev
        FROM hourly
    )
    SELECT event_type,
           count(v_prev)            AS n_pairs,
           round(corr(v, v_prev), 4) AS lag1_autocorr
    FROM lagged GROUP BY event_type
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 — lag-1 autocorrelation of the hourly mean per event type: is
    the series trending/mean-reverting or white noise? Aggregates to
    hours FIRST (map-side combinable, output rows = hours × types), so
    the window sort runs on the tiny rollup, never the raw events."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"),
        window_start(F.col("ts"), 3600).alias("hr"),
    ).agg(F.avg("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type", "v", F.lag("v").over(w).alias("v_prev")
    )
    return lagged.groupBy("event_type").agg(
        F.count("v_prev").alias("n_pairs"),
        F.round(F.corr("v", "v_prev"), 4).alias("lag1_autocorr"),
    )


@register(
    "user_event_paths",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), paths AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS entry_path
        FROM ranked WHERE rn <= 5 GROUP BY user_id
    )
    SELECT entry_path, count(*) AS n_users
    FROM paths GROUP BY entry_path
    """,
)
def user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 — entry-path mining: each user's first five event types as an
    ordered path string, counted across users (the onboarding-funnel
    exploration query). Spark has no ordered string_agg, so the path is
    built deterministically JVM-side: collect structs keyed by rank,
    ``sort_array`` (struct ordering = field order), project, join.
    The per-user state is capped at 5 rows before the path groupBy, so
    the second shuffle carries one short string per user."""
    ev = table(spark, sf_dir, "events")
    ranked = topk_per_group(
        ev, ["user_id"], [F.col("ts"), F.col("event_id")], 5, "rn"
    ).select("user_id", "event_type", "rn")
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("entry_path")
    )
    return paths.groupBy("entry_path").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "doc_percentiles",
    oracle="""
    SELECT doc_id, lang, n_chars,
           round(percent_rank() OVER w, 4) AS len_pct_rank,
           round(cume_dist()    OVER w, 4) AS len_cume_dist
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
    """,
)
def doc_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C34 — within-language percentile normalization of document
    length (percent_rank + cume_dist): the rank-based feature scaling
    used when mixing corpora whose raw length distributions differ.
    Ties are broken on doc_id so ranks are engine-invariant. One
    shuffle on lang; at 100 TB the skew risk is a single dominant
    language — the mitigation is the two-pass ECDF (per-partition
    counts → broadcast cumulative offsets), which B37's sketch already
    approximates."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(F.percent_rank().over(w), 4).alias("len_pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("len_cume_dist"),
    )


@register("hll_daily_union", oracle=None)
def hll_daily_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 — the pre-aggregated sketch-table pattern (*rows-only*:
    approximate): build one Datasketches HLL sketch of distinct users
    per (day, event_type), then answer "distinct users per type over
    the whole range" by UNIONING the daily sketches — never rescanning
    events. At 100 TB the sketch table is KBs/day; any date-range
    distinct count is O(days) sketch merges. Accuracy vs the exact
    answer is asserted in tests/test_sketches.py."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(F.hll_sketch_agg(F.col("user_id").cast("string"), 12).alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        )
    )


@register(
    "hll_union_audit",
    oracle="""
    SELECT event_type,
           count(DISTINCT CAST(ts AS DATE)) AS n_days,
           count(DISTINCT user_id) AS n_users_exact
    FROM events
    GROUP BY event_type
    """,
)
def hll_union_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21b — the exact companion to E21's daily-sketch-union rollup:
    the day span and the exact range-wide distinct count the unioned
    sketches must approximate, fully hash-compared. The 5% union
    accuracy bound (lgK=12 → ~1.6% rsd, HLL union lossless) is
    asserted in tests/test_sketches.py against the E21 estimates
    rather than pinned as a TRUE constant in the oracle — a datagen
    re-roll landing in the sketch's probability tail must surface as
    an accuracy-test failure, never as a phantom correctness
    mismatch."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.countDistinct("user_id").alias("n_users_exact"),
    )


@register(
    "open_orders_timeline",
    oracle="""
    WITH iv AS (
        SELECT o.o_orderkey, o.o_orderdate AS s, max(l.l_shipdate) AS e
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    ev AS (
        SELECT s AS t, 1 AS d FROM iv
        UNION ALL
        SELECT e AS t, -1 AS d FROM iv
    ),
    agg AS (SELECT t, sum(d) AS nd FROM ev GROUP BY t)
    SELECT t, CAST(sum(nd) OVER (ORDER BY t) AS BIGINT) AS n_open FROM agg
    """,
)
def open_orders_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 — sweep-line concurrency: how many orders are OPEN (placed,
    not yet fully shipped) at every boundary instant. Intervals become
    +1/−1 change events, net deltas collapse per timestamp (map-side
    combine also erases tie-ordering ambiguity), and the running total
    is a DISTRIBUTED PREFIX SUM — range-partition by time, cumulative
    sum within each partition, then add broadcast per-partition prefix
    offsets. ``sum() OVER (ORDER BY t)`` with no partition key is the
    one-task trap (the oracle can afford it; a 100 TB table cannot);
    this plan's widest single sort is one range partition.

    The ±1 events come from ONE pass over the interval relation
    (explode of a two-element array, not a self-union that executes
    the orders⋈lineitem rollup twice), and the per-timestamp delta
    relation — one row per distinct boundary instant, tiny at any
    fact scale — persists so the cumsum branch and the offsets branch
    share a single fact-side execution (unpersisted, Spark re-runs
    the whole upstream for each branch: 4 fact scans instead of 1;
    pinned by tests/test_plan_shape.py). The persist also freezes the
    pid column: both branches must see the SAME partition-id
    assignment, and a recomputed spark_partition_id is not
    contractually stable."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    iv = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("e"))
    )
    ev = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("o_orderdate").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("e").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("evt")
    ).select("evt.t", "evt.d")
    deltas = ev.groupBy("t").agg(F.sum("d").alias("nd"))
    parts = (
        deltas.repartitionByRange(16, F.col("t"))
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    local = parts.withColumn(
        "run",
        F.sum("nd").over(
            Window.partitionBy("pid")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = parts.groupBy("pid").agg(F.sum("nd").alias("tot"))
    offsets = totals.withColumn(
        "off",
        F.coalesce(
            F.sum("tot").over(
                Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("pid", "off")
    return local.join(F.broadcast(offsets), "pid").select(
        "t", (F.col("off") + F.col("run")).alias("n_open")
    )


@register(
    "mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS m FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, med.m, median(abs(e.value - med.m)) AS md
        FROM events e JOIN med USING (event_type)
        GROUP BY e.event_type, med.m
    )
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN mad USING (event_type)
    WHERE abs(e.value - mad.m) > 3 * 1.4826 * mad.md
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23 — robust outlier detection: |value − median| > 3·1.4826·MAD
    per event type (the median/MAD dual of E13's mean/σ z-score — a
    single 1000× spike cannot drag the threshold toward itself the way
    it drags a mean). Two tiny per-type aggregates (median, then median
    absolute deviation) broadcast back onto the scan; the fact table
    never shuffles. At 100 TB both medians swap to approx_percentile
    (t-digest) with the same plan shape."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "m")
        .agg(F.expr("percentile(abs(value - m), 0.5)").alias("md"))
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("value") - F.col("m")) > 3 * 1.4826 * F.col("md"))
        .select("event_id", "event_type", "value")
    )


@register(
    "type_association",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n  AS (SELECT count(DISTINCT user_id) AS nu FROM events),
    tc AS (SELECT event_type, count(*) AS c FROM ut GROUP BY event_type),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           round(p.n_both / n.nu, 4)                    AS support,
           round((p.n_both / ca.c) / (cb.c / n.nu), 4)  AS lift
    FROM pairs p
    JOIN tc ca ON ca.event_type = p.type_a
    JOIN tc cb ON cb.event_type = p.type_b
    CROSS JOIN n
    """,
)
def type_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 — market-basket association mining over event types: for
    every unordered type pair, co-occurrence support across users and
    lift (observed co-rate vs independence). The basket self-join is
    keyed on user_id, so the pair expansion per user is bounded by
    basket size squared (≤ distinct-types², a constant) — never
    users². Distinct-collapse runs first (map-side combinable) so the
    join input is one row per (user, type); the type-count dimension
    and the scalar user total broadcast back onto the pair counts."""
    ev = table(spark, sf_dir, "events")
    # one row per (user, type); the pair self-join reuses the
    # distinct's shuffle (ReusedExchange) while the type-count rollup
    # re-derives as a pruned scan + partial agg — measured 0.18 s
    # cheaper cold at sf0.1 than persisting the distinct
    ut = ev.select("user_id", "event_type").distinct()
    n = ev.agg(F.countDistinct("user_id").alias("nu"))
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = tc.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    cb = tc.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(F.col("n_both") / F.col("nu"), 4).alias("support"),
            F.round(
                (F.col("n_both") / F.col("ca")) / (F.col("cb") / F.col("nu")), 4
            ).alias("lift"),
        )
    )


@register(
    "value_drift_psi",
    oracle="""
    WITH b AS (SELECT event_type, value, epoch_us(ts) AS e FROM events),
    rng AS (SELECT min(e) AS mn, max(e) AS mx FROM b),
    sp AS (SELECT floor((mn + mx) / 2) AS tm FROM rng),
    pa_ AS (SELECT event_type, value FROM b, sp WHERE e <  tm),
    pb_ AS (SELECT event_type, value FROM b, sp WHERE e >= tm),
    vr AS (
        SELECT event_type, min(value) AS vmin, max(value) AS vmax
        FROM pa_ GROUP BY 1 HAVING max(value) > min(value)
    ),
    ba AS (
        SELECT p.event_type,
               CAST(least(9, greatest(0,
                   floor((p.value - vr.vmin) * 10 / (vr.vmax - vr.vmin))))
                   AS INT) AS bin
        FROM pa_ p JOIN vr USING (event_type)
    ),
    bb AS (
        SELECT p.event_type,
               CAST(least(9, greatest(0,
                   floor((p.value - vr.vmin) * 10 / (vr.vmax - vr.vmin))))
                   AS INT) AS bin
        FROM pb_ p JOIN vr USING (event_type)
    ),
    grid AS (
        SELECT vr.event_type, t.g AS bin FROM vr, range(10) AS t(g)
    ),
    ca AS (SELECT event_type, bin, count(*) AS c FROM ba GROUP BY 1, 2),
    cb AS (SELECT event_type, bin, count(*) AS c FROM bb GROUP BY 1, 2),
    na AS (SELECT event_type, count(*) AS n FROM ba GROUP BY 1),
    nb AS (SELECT event_type, count(*) AS n FROM bb GROUP BY 1)
    SELECT g.event_type,
           max(na.n) AS n_ref,
           max(nb.n) AS n_cur,
           round(sum(
               ((coalesce(ca.c, 0) + 1.0) / (na.n + 10)
                - (coalesce(cb.c, 0) + 1.0) / (nb.n + 10))
               * ln(((coalesce(ca.c, 0) + 1.0) / (na.n + 10))
                    / ((coalesce(cb.c, 0) + 1.0) / (nb.n + 10)))
           ), 4) + 0 AS psi
    FROM grid g
    JOIN na USING (event_type)
    JOIN nb USING (event_type)
    LEFT JOIN ca ON ca.event_type = g.event_type AND ca.bin = g.bin
    LEFT JOIN cb ON cb.event_type = g.event_type AND cb.bin = g.bin
    GROUP BY g.event_type
    """,
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25 — distribution drift monitoring: Population Stability Index
    of the value distribution per event type, later half of the time
    range vs the earlier half (the train/serve skew check an ML
    pipeline runs before trusting a feature). Reference bins are 10
    equal-width buckets from the REFERENCE period's min/max (current
    values clamp into the edge bins — exactly how a deployed scorecard
    bins unseen values), counts are Laplace-smoothed over the full
    10-bin grid so empty bins contribute, and PSI sums
    (pa−pb)·ln(pa/pb). Every stage is a map-side-combinable aggregate
    or a broadcast of a per-type scalar table; the fact scan shuffles
    only as bin counts (types × 10 rows)."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("e")
    )
    rng = ev.agg(
        F.floor((F.min("e") + F.max("e")) / 2).alias("tm")
    )
    split = ev.crossJoin(F.broadcast(rng))
    pa = split.where(F.col("e") < F.col("tm"))
    vr = (
        pa.groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
        .where(F.col("vmax") > F.col("vmin"))
    )
    # ONE combined fact pass: both halves bin in the same aggregation
    # (side is just another grouping key), and the per-side totals are
    # re-aggregated from the tiny (type, side, bin) counts — the fact
    # is scanned twice total (reference ranges + binning), not five
    # times (ca/cb/na/nb each re-deriving from the scan).
    sided = split.join(F.broadcast(vr), "event_type").select(
        "event_type",
        (F.col("e") >= F.col("tm")).cast("int").alias("__side"),
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    * 10
                    / (F.col("vmax") - F.col("vmin"))
                ),
            ),
        )
        .cast("int")
        .alias("bin"),
    )
    counts = (
        sided.groupBy("event_type", "__side", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        # types × 2 × 10 rows; unpersisted, Catalyst re-derives the
        # ca/cb/na/nb slices as pruned parallel fact passes with
        # map-side combine (no extra shuffle) — measured 0.15 s
        # cheaper cold at sf0.1 than a persist barrier
    )
    ca = counts.where(F.col("__side") == 0).select(
        "event_type", "bin", F.col("c").alias("ca")
    )
    cb = counts.where(F.col("__side") == 1).select(
        "event_type", "bin", F.col("c").alias("cb")
    )
    na = ca.groupBy("event_type").agg(F.sum("ca").alias("na"))
    nb = cb.groupBy("event_type").agg(F.sum("cb").alias("nb"))
    grid = vr.select(
        "event_type", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin")
    )
    p_a = (F.coalesce(F.col("ca"), F.lit(0)) + 1.0) / (F.col("na") + 10)
    p_b = (F.coalesce(F.col("cb"), F.lit(0)) + 1.0) / (F.col("nb") + 10)
    return (
        grid.join(F.broadcast(na), "event_type")
        .join(F.broadcast(nb), "event_type")
        .join(F.broadcast(ca), ["event_type", "bin"], "left")
        .join(F.broadcast(cb), ["event_type", "bin"], "left")
        .groupBy("event_type")
        .agg(
            F.max("na").alias("n_ref"),
            F.max("nb").alias("n_cur"),
            (F.round(F.sum((p_a - p_b) * F.log(p_a / p_b)), 4) + F.lit(0.0)).alias(
                "psi"
            ),
        )
    )


# ---------------------------------------------------------------- E32
@register(
    "value_drawdown",
    oracle="""
    WITH c AS (
        SELECT user_id, ts, event_id,
               round(sum(value) OVER w, 6) AS cum
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d AS (
        SELECT user_id,
               max(cum) OVER w - cum AS dd
        FROM c
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, round(max(dd), 6) + 0 AS max_drawdown
    FROM d GROUP BY user_id
    """,
)
def value_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E32 — maximum drawdown of each user's cumulative value series
    (largest peak-to-trough decline): the risk/health metric for any
    running total — revenue, engagement score, account balance. Two
    stacked windows on ONE per-user sort: cumulative sum in time
    order, then running-peak-minus-current, then a plain max. The
    cumulative sum is rounded to 6 dp BEFORE the peak pass so both
    engines difference identical doubles (running float sums agree to
    the ulp only in identical order — the (ts, event_id) tiebreak
    pins it). Per-user window state is O(1); no global sort anywhere,
    and both window passes reuse ONE per-user sort (same partition
    key and ordering — a single exchange + sort in the physical plan).
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w_time = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.sum("value").over(w_time), 6).alias("cum"),
    )
    dd = F.max("cum").over(w_time) - F.col("cum")
    return (
        c.select("user_id", dd.alias("dd"))
        .groupBy("user_id")
        .agg((F.round(F.max("dd"), 6) + F.lit(0.0)).alias("max_drawdown"))
    )


# ---------------------------------------------------------------- E35
@register(
    "winsorize_values",
    oracle="""
    WITH th AS (
        SELECT event_type,
               round(quantile_cont(value, 0.01), 6) AS p01,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           least(greatest(e.value, th.p01), th.p99) AS winsorized,
           (e.value < th.p01 OR e.value > th.p99) AS was_clipped
    FROM events e JOIN th USING (event_type)
    """,
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E35 — per-type winsorization: clip values to the [p1, p99] band
    (the standard outlier-robust preprocessing before z-scoring or
    model features — the complement of E13/E23's row-DROPPING gates).
    One tiny per-type exact-percentile aggregate broadcasts back onto
    the scan; the fact never shuffles. Thresholds are rounded to 6 dp
    on BOTH engines before clipping (the quantile-interpolation ulp
    trap); clipped output is either the untouched input value or a
    threshold — both bit-identical across engines. At 100 TB swap
    approx_percentile into the threshold pass; plan shape unchanged."""
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    th = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.01D)"), 6).alias("p01"),
        F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return ev.join(F.broadcast(th), "event_type").select(
        "event_id",
        "event_type",
        "value",
        clipped.alias("winsorized"),
        ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))).alias(
            "was_clipped"
        ),
    )


# ---------------------------------------------------------------- E36
@register(
    "type_value_mi",
    oracle="""
    WITH mm AS (
        SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
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
    tot AS (SELECT sum(n) AS n_all FROM jt)
    SELECT CAST(tot.n_all AS BIGINT) AS n_rows,
           round(sum((jt.n / CAST(tot.n_all AS DOUBLE))
                     * ln(CAST(tot.n_all AS DOUBLE) * jt.n
                          / (mt.n_t * CAST(mb.n_b AS DOUBLE)))), 4)
               AS mi_nats
    FROM jt
    JOIN mt USING (event_type)
    JOIN mb USING (bin)
    CROSS JOIN tot
    GROUP BY tot.n_all
    """,
)
def type_value_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 — mutual information between event type and value decile
    (equi-width bins): the feature-relevance statistic behind feature
    selection and leakage screens — "does knowing the category tell
    you anything about the magnitude?". Zero sorts: bins come from a
    broadcast global (min, max) (E11's shape, not a global ntile),
    then everything reduces to one (type, bin) rollup whose marginals
    and total are tiny re-aggregations. MI sums ≤ |types|·10 ln-terms —
    ulp noise absorbed by round(4). At 100 TB the fact contributes
    only map-side partial counts to a ≤50-row state."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    mm = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    # hi > lo gate: zero-width bins (constant column) → NaN in Spark
    # vs a CAST error in DuckDB; both engines emit zero rows instead.
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
    # ≤ |types|·10 rows; unpersisted, marginals/total re-derive as
    # pruned parallel fact passes with map-side combine (no extra
    # shuffle) — measured 0.19 s cheaper cold at sf0.1 than persist
    jt = b.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("n"))
    mt = jt.groupBy("event_type").agg(F.sum("n").alias("n_t"))
    mb = jt.groupBy("bin").agg(F.sum("n").alias("n_b"))
    tot = jt.agg(F.sum("n").alias("n_all"))
    term = (F.col("n") / F.col("n_all").cast("double")) * F.log(
        F.col("n_all").cast("double")
        * F.col("n")
        / (F.col("n_t") * F.col("n_b").cast("double"))
    )
    return (
        jt.join(F.broadcast(mt), "event_type")
        .join(F.broadcast(mb), "bin")
        .crossJoin(F.broadcast(tot))
        .groupBy("n_all")
        .agg(F.round(F.sum(term), 4).alias("mi_nats"))
        .select(F.col("n_all").cast("long").alias("n_rows"), "mi_nats")
    )


# ---------------------------------------------------------------- E37
@register(
    "ab_welch_ttest",
    oracle="""
    WITH s AS (
        SELECT event_type,
               count(*) AS n,
               avg(value) AS m,
               var_samp(value) AS v
        FROM events
        WHERE event_type IN ('view', 'purchase')
        GROUP BY event_type
    ),
    a AS (SELECT * FROM s WHERE event_type = 'view'),
    b AS (SELECT * FROM s WHERE event_type = 'purchase')
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.m - b.m, 4) AS mean_diff,
           round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat,
           round(pow(a.v / a.n + b.v / b.n, 2)
                 / (pow(a.v / a.n, 2) / (a.n - 1)
                    + pow(b.v / b.n, 2) / (b.n - 1)), 2) AS welch_df
    FROM a, b
    """,
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 — Welch's unequal-variance t-test between two event
    populations (view vs purchase values): the experimentation
    primitive — is the difference in means real? Everything reduces to
    TWO algebraic aggregates (n, mean, sample variance — all map-side
    combinable single-pass state) joined as one-row broadcasts; the
    t-statistic and Welch–Satterthwaite df are pure scalar math on
    top. At 100 TB each arm contributes constant-size partial state
    per task — the test costs one scan regardless of arm sizes.
    Identical formula text in both engines; round absorbs ulps."""
    s = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    a = s.where(F.col("event_type") == "view").select(
        F.col("n").alias("n_a"), F.col("m").alias("m_a"), F.col("v").alias("v_a")
    )
    b = s.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_b"), F.col("m").alias("m_b"), F.col("v").alias("v_b")
    )
    se2_a = F.col("v_a") / F.col("n_a")
    se2_b = F.col("v_b") / F.col("n_b")
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        F.round(F.col("m_a") - F.col("m_b"), 4).alias("mean_diff"),
        # try_divide ≡ DuckDB's NULL-on-zero division: zero-variance
        # arms (a constant metric) make the test undefined, not a
        # crash under ANSI mode
        F.round(
            F.try_divide(
                F.col("m_a") - F.col("m_b"), F.sqrt(se2_a + se2_b)
            ),
            4,
        ).alias("t_stat"),
        F.round(
            F.try_divide(
                F.pow(se2_a + se2_b, 2),
                F.try_divide(F.pow(se2_a, 2), F.col("n_a") - 1)
                + F.try_divide(F.pow(se2_b, 2), F.col("n_b") - 1),
            ),
            2,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------- E65
@register(
    "anova_f",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               count(*) AS n,
               avg(value) AS m,
               var_samp(value) AS v
        FROM events
        GROUP BY event_type
    ),
    {anova_tail_sql("f_stat", include_eta=True)}
    """,
)
def anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E65 — one-way ANOVA across ALL event types (k-group extension
    of E37's two-arm Welch test): does value differ by event_type at
    all, before pairwise tests say where? F = MS_between / MS_within
    plus the eta-squared effect size. The k-group sums of squares
    reduce ALGEBRAICALLY to per-group (n, mean, var_samp) — one
    map-side-combinable aggregate per group, then
    SS_b = Σ n·m² − (Σ n·m)²/N over the k-row relation — so at 100 TB
    the whole test is one scan with constant per-task state, the E37
    shape generalized. Same cross-engine discipline: identical
    streaming aggregate forms, identical formula text, round absorbs
    ulps."""
    s = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    return anova_tail(s, "f_stat", include_eta=True)


# ---------------------------------------------------------------- E38
@register(
    "ols_trend",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(covar_samp(epoch_us(ts) / 86400000000.0, value)
                 / var_samp(epoch_us(ts) / 86400000000.0), 6) AS slope_per_day,
           round(avg(value)
                 - (covar_samp(epoch_us(ts) / 86400000000.0, value)
                    / var_samp(epoch_us(ts) / 86400000000.0))
                   * avg(epoch_us(ts) / 86400000000.0), 4) AS intercept,
           round(pow(corr(epoch_us(ts) / 86400000000.0, value), 2), 4) AS r2
    FROM events
    GROUP BY event_type
    """,
)
def ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E38 — closed-form OLS per event type: value regressed on time
    (days), slope/intercept/R² from the normal equations — in-engine
    model TRAINING where the sufficient statistics are the model.
    Everything is algebraic one-pass aggregate state (co-moments:
    covar_samp, var_samp, corr — numerically-stable streaming forms in
    both engines), so the whole regression is ONE map-side-combinable
    aggregate per type: no iteration, no solver, no second scan. The
    pattern extends to any small-d linear model (d² co-moment matrix
    per group) — at 100 TB the shuffle carries d² doubles per type."""
    ev = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    x = F.unix_micros(F.col("ts")) / F.lit(86400000000.0)
    slope = F.try_divide(F.covar_samp(x, F.col("value")), F.var_samp(x))
    # Pearson spelled out with try_divide instead of F.corr: Spark 4's
    # ANSI-mode corr RAISES on a zero-variance input (constant metric)
    # where DuckDB's corr yields NULL — found by the degenerate-input
    # sweep (tests/test_degenerate_inputs.py)
    r = F.try_divide(
        F.covar_samp(x, F.col("value")),
        F.stddev_samp(x) * F.stddev_samp("value"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round(F.avg("value") - slope * F.avg(x), 4).alias("intercept"),
        F.round(F.pow(r, 2), 4).alias("r2"),
    )


# ---------------------------------------------------------------- E39
@register(
    "km_survival",
    oracle="""
    WITH fv AS (
        SELECT user_id, min(epoch_us(ts)) AS mv
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fb AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS mb
        FROM events e JOIN fv USING (user_id)
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.mv
        GROUP BY e.user_id
    ),
    obs_end AS (SELECT max(epoch_us(ts)) AS fin FROM events),
    durs AS (
        SELECT fv.user_id,
               CAST(floor((coalesce(fb.mb, obs_end.fin) - fv.mv)
                          / 86400000000.0) AS BIGINT) AS dur,
               CASE WHEN fb.mb IS NULL THEN 0 ELSE 1 END AS observed
        FROM fv LEFT JOIN fb USING (user_id) CROSS JOIN obs_end
    ),
    per_t AS (
        SELECT dur,
               sum(observed) AS d_i,
               count(*) - sum(observed) AS c_i
        FROM durs GROUP BY dur
    ),
    risk AS (
        SELECT dur, d_i,
               (SELECT count(*) FROM durs)
               - coalesce(sum(d_i + c_i) OVER (
                     ORDER BY dur
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_i
        FROM per_t
    )
    SELECT dur AS duration_days,
           CAST(n_i AS BIGINT) AS n_at_risk,
           CAST(d_i AS BIGINT) AS n_events,
           CASE WHEN max(CASE WHEN d_i = n_i THEN 1 ELSE 0 END) OVER w = 1
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN d_i = n_i THEN 0.0
                                        ELSE ln(1.0 - d_i / CAST(n_i AS DOUBLE))
                                   END) OVER w), 6)
           END AS survival
    FROM risk
    WHERE d_i > 0
    WINDOW w AS (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E39 — Kaplan-Meier survival curve for view→purchase conversion
    (time-to-event in days, users who never purchase are right-censored
    at the observation end): the survival-analysis primitive behind
    churn, conversion-lag, and retention-decay questions.

    Shape: per-user firsts collapse the fact to one row per user; the
    KM table then lives on DISTINCT durations (≤ observation span in
    days — tiny), so the at-risk cumulative window and the cumulative
    product both run on that collapsed relation. The product is
    exp(Σ ln(1−dᵢ/nᵢ)) over a time-ordered frame — written identically
    in the oracle, so term order matches and round(6) absorbs ulps.
    The unpartitioned windows are safe BECAUSE they run on the
    duration-grid relation, never the fact (the E22 principle)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("mv"))
        .persist()  # per-user rollup; feeds the purchase join AND durs
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", us.alias("bus")
    )
    fb = (
        buys.join(fv, "user_id")
        .where(F.col("bus") > F.col("mv"))
        .groupBy("user_id")
        .agg(F.min("bus").alias("mb"))
    )
    obs_end = ev.agg(F.max(us).alias("fin"))
    durs = (
        fv.join(fb, "user_id", "left")
        .crossJoin(F.broadcast(obs_end))
        .select(
            F.floor(
                (F.coalesce(F.col("mb"), F.col("fin")) - F.col("mv"))
            ).cast("long").alias("gap_us"),
            F.when(F.col("mb").isNull(), 0).otherwise(1).alias("observed"),
        )
        .select(
            (F.col("gap_us") / 86400000000).cast("long").alias("dur"),
            "observed",
        )
        .persist()  # one row per user; feeds the KM table AND n_total
    )
    per_t = durs.groupBy("dur").agg(
        F.sum("observed").alias("d_i"),
        (F.count(F.lit(1)) - F.sum("observed")).alias("c_i"),
    )
    total = durs.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = per_t.crossJoin(F.broadcast(total)).select(
        "dur",
        "d_i",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d_i") + F.col("c_i")).over(w_prev), F.lit(0))
        ).alias("n_i"),
    )
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    # the duration where every remaining subject fails has factor 0 —
    # an absorbing state handled explicitly (ln(0) ERRORS in DuckDB
    # and silently NULLs in Spark, where sum() skips nulls)
    is_zero = F.when(F.col("d_i") == F.col("n_i"), 1).otherwise(0)
    ln_term = F.when(F.col("d_i") == F.col("n_i"), F.lit(0.0)).otherwise(
        F.log(1.0 - F.col("d_i") / F.col("n_i").cast("double"))
    )
    surv = F.when(F.max(is_zero).over(w_cum) == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(ln_term).over(w_cum)), 6)
    )
    return (
        risk.withColumn("survival", surv)
        .where(F.col("d_i") > 0)
        .select(
            F.col("dur").alias("duration_days"),
            F.col("n_i").cast("long").alias("n_at_risk"),
            F.col("d_i").cast("long").alias("n_events"),
            "survival",
        )
    )


# ---------------------------------------------------------------- E40
@register(
    "seasonal_decompose",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
               CAST(floor((2 * round(sum(value) * 1000000, 0) + 100 * count(*))
                          / (2 * 100 * count(*))) AS BIGINT) AS vu
        FROM events GROUP BY 1, 2
    ),
    tr AS (
        SELECT event_type, hr, vu,
               CASE WHEN count(*) OVER w = 25
                    THEN CAST(floor(sum(vu) OVER w / 25.0) AS BIGINT) END AS tu
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    detr AS (
        SELECT event_type, hr, vu, tu, vu - tu AS du,
               CAST(hr % 24 AS INT) AS hod
        FROM tr WHERE tu IS NOT NULL
    ),
    seas AS (
        SELECT event_type, hod,
               CAST(floor(sum(du) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS su
        FROM detr GROUP BY 1, 2
    )
    SELECT d.event_type, d.hr,
           d.vu / 10000.0 AS v,
           d.tu / 10000.0 AS trend,
           s.su / 10000.0 AS seasonal,
           (d.du - s.su) / 10000.0 AS residual
    FROM detr d JOIN seas s
      ON d.event_type = s.event_type AND d.hod = s.hod
    """,
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E40 — additive seasonal decomposition (STL-lite) of the hourly
    mean per type: trend = 25-hour centered moving average (full
    windows only), seasonal = floor-mean detrended value by
    hour-of-day, residual = the rest — the anomaly-detection prior
    that separates "3am is always quiet" from "something broke at
    3am". The fact collapses to the hours×types rollup FIRST
    (map-side combined), so the centered window, the hour-of-day
    profile, and the residual all run on a relation whose size is the
    observation span — the E19/E22 principle.

    Numerics: every stage stays in INTEGER micro-units (the
    tumbling_window HALF_UP formula for the hourly mean, floor
    divisions for trend and seasonal) — engine round() disagreements
    on half-boundary doubles (hit at sf0.1 with round(avg, 6)) cannot
    occur because no intermediate is ever a non-integral double; the
    final /1e4 maps identical integers to identical doubles."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    hr = F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000.0)).cast("long")
    vu = F.floor(
        (2 * F.round(F.sum("value") * 1000000, 0) + 100 * F.count(F.lit(1)))
        / (2 * 100 * F.count(F.lit(1)))
    ).cast("long")
    hourly = ev.groupBy("event_type", hr.alias("hr")).agg(vu.alias("vu"))
    w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-12, 12)
    tr = hourly.select(
        "event_type",
        "hr",
        "vu",
        F.when(
            F.count(F.lit(1)).over(w) == 25,
            F.floor(F.sum("vu").over(w) / F.lit(25.0)).cast("long"),
        ).alias("tu"),
    )
    detr = tr.where(F.col("tu").isNotNull()).select(
        "event_type",
        "hr",
        "vu",
        "tu",
        (F.col("vu") - F.col("tu")).alias("du"),
        (F.col("hr") % 24).cast("int").alias("hod"),
    ).persist()  # hourly grid; feeds the seasonal means AND the output join
    seas = detr.groupBy("event_type", "hod").agg(
        F.floor(F.sum("du") / F.count(F.lit(1)).cast("double"))
        .cast("long")
        .alias("su")
    )
    return detr.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type",
        "hr",
        (F.col("vu") / 10000.0).alias("v"),
        (F.col("tu") / 10000.0).alias("trend"),
        (F.col("su") / 10000.0).alias("seasonal"),
        ((F.col("du") - F.col("su")) / 10000.0).alias("residual"),
    )


# ---------------------------------------------------------------- E41
@register(
    "cusum_changepoint",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
               CAST(floor((2 * round(sum(value) * 1000000, 0) + 100 * count(*))
                          / (2 * 100 * count(*))) AS BIGINT) AS vu
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(floor(sum(vu) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mu
        FROM hourly GROUP BY event_type
    ),
    cs AS (
        SELECT h.event_type, h.hr,
               sum(h.vu - m.mu) OVER (
                   PARTITION BY h.event_type ORDER BY h.hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c
        FROM hourly h JOIN m USING (event_type)
    ),
    best AS (
        SELECT event_type, hr, c,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY abs(c) DESC, hr
               ) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n_hours
        FROM cs
    )
    SELECT event_type, n_hours, hr AS changepoint_hr,
           round(abs(c) / 10000.0, 4) AS max_abs_cusum
    FROM best WHERE rk = 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E41 — CUSUM changepoint detection per type: cumulative sum of
    hourly deviations from the per-type mean; the hour where |CUSUM|
    peaks is the most likely level-shift point (Page's test statistic,
    the monitoring upgrade of E25's PSI — WHERE did the drift start,
    not just whether). All arithmetic in integer micro-units (E40's
    discipline) so the running sums are exact; the windows run on the
    hours×types rollup, never the fact. One rollup shuffle + two tiny
    window passes."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    hr = F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000.0)).cast("long")
    vu = F.floor(
        (2 * F.round(F.sum("value") * 1000000, 0) + 100 * F.count(F.lit(1)))
        / (2 * 100 * F.count(F.lit(1)))
    ).cast("long")
    hourly = ev.groupBy("event_type", hr.alias("hr")).agg(vu.alias("vu"))
    m = hourly.groupBy("event_type").agg(
        F.floor(F.sum("vu") / F.count(F.lit(1)).cast("double"))
        .cast("long")
        .alias("mu")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cs = (
        hourly.join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            "hr",
            F.sum(F.col("vu") - F.col("mu")).over(w_cum).alias("c"),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c")).desc(), F.col("hr")
    )
    w_all = Window.partitionBy("event_type")
    best = cs.select(
        "event_type",
        "hr",
        "c",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_hours"),
    )
    return best.where(F.col("rk") == 1).select(
        "event_type",
        "n_hours",
        F.col("hr").alias("changepoint_hr"),
        F.round(F.abs(F.col("c")) / 10000.0, 4).alias("max_abs_cusum"),
    )


# ---------------------------------------------------------------- E42
@register(
    "gap_fill_interp",
    oracle="""
    WITH agg AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
               CAST(floor((2 * round(sum(value) * 1000000, 0) + 100 * count(*))
                          / (2 * 100 * count(*))) AS BIGINT) AS vu
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(b) AS mn, max(b) AS mx FROM agg GROUP BY 1
    ),
    grid AS (
        SELECT event_type, mn + k AS b
        FROM bounds, unnest(range(CAST(mx - mn + 1 AS BIGINT))) AS t(k)
    ),
    j AS (
        SELECT g.event_type, g.b, a.vu
        FROM grid g LEFT JOIN agg a
          ON a.event_type = g.event_type AND a.b = g.b
    ),
    ctx AS (
        SELECT event_type, b, vu,
               last_value(vu IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN vu IS NOT NULL THEN b END IGNORE NULLS)
                   OVER wp AS pb,
               first_value(vu IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN vu IS NOT NULL THEN b END IGNORE NULLS)
                   OVER wn AS nb
        FROM j
        WINDOW wp AS (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, b AS bucket_hr,
           vu IS NOT NULL AS observed,
           round(CASE
               WHEN vu IS NOT NULL THEN vu / 10000.0
               WHEN pv IS NULL THEN nv / 10000.0
               WHEN nv IS NULL THEN pv / 10000.0
               ELSE (pv + (nv - pv) * CAST(b - pb AS DOUBLE) / (nb - pb))
                    / 10000.0
           END, 6) AS filled_value
    FROM ctx
    """,
)
def gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E42 — gap filling by LINEAR INTERPOLATION between the nearest
    known hourly means (the upgrade of E9's step-function LOCF — right
    for continuous signals like temperature or rate counters). Dense
    grid from sequence+explode, then two ignore-nulls windows over the
    grid (carry last known back and first known forward, with their
    bucket positions) and one interpolation projection. Hourly means
    are INTEGER micro-units (E40's discipline); the single float op —
    the interpolation ratio — is written identically in both engines
    over exact-integer inputs. Edge buckets before the first / after
    the last observation clamp to the nearest known value. Windows run
    on the bucket grid, never the fact."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    b = F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000.0)).cast("long")
    vu = F.floor(
        (2 * F.round(F.sum("value") * 1000000, 0) + 100 * F.count(F.lit(1)))
        / (2 * 100 * F.count(F.lit(1)))
    ).cast("long")
    agg = ev.groupBy("event_type", b.alias("b")).agg(vu.alias("vu")).persist()  # hours×types rows; feeds bounds AND the grid join
    bounds = agg.groupBy("event_type").agg(
        F.min("b").alias("mn"), F.max("b").alias("mx")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("b"),
    )
    j = grid.join(agg, ["event_type", "b"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_b = F.when(F.col("vu").isNotNull(), F.col("b"))
    ctx = j.select(
        "event_type",
        "b",
        "vu",
        F.last("vu", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_b, ignorenulls=True).over(wp).alias("pb"),
        F.first("vu", ignorenulls=True).over(wn).alias("nv"),
        F.first(known_b, ignorenulls=True).over(wn).alias("nb"),
    )
    interp = (
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (F.col("b") - F.col("pb")).cast("double")
        / (F.col("nb") - F.col("pb"))
    )
    filled = (
        F.when(F.col("vu").isNotNull(), F.col("vu") / 10000.0)
        .when(F.col("pv").isNull(), F.col("nv") / 10000.0)
        .when(F.col("nv").isNull(), F.col("pv") / 10000.0)
        .otherwise(interp / 10000.0)
    )
    return ctx.select(
        "event_type",
        F.col("b").alias("bucket_hr"),
        F.col("vu").isNotNull().alias("observed"),
        F.round(filled, 6).alias("filled_value"),
    )


# ---------------------------------------------------------------- E62
@register(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
               CAST(round(sum(value) * 1000000, 0) AS BIGINT) AS vu
        FROM events
        GROUP BY event_type, floor(epoch(ts) / 86400)
    ),
    sl AS (
        SELECT a.event_type,
               CAST(floor((b.vu - a.vu) / (b.d - a.d)) AS BIGINT) AS s
        FROM daily a
        JOIN daily b ON a.event_type = b.event_type AND a.d < b.d
    ),
    c AS (SELECT event_type, s, count(*) AS n FROM sl GROUP BY event_type, s),
    cum AS (
        SELECT event_type, s, n,
               sum(n) OVER (PARTITION BY event_type ORDER BY s) AS cn,
               sum(n) OVER (PARTITION BY event_type) AS t
        FROM c
    ),
    med AS (
        SELECT event_type, CAST(max(t) AS BIGINT) AS n_pairs,
               CAST(min(CASE WHEN 2 * cn >= t THEN s END) AS BIGINT)
                   AS slope_med_u
        FROM cum GROUP BY event_type
    ),
    nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY event_type)
    SELECT med.event_type, nd.n_days, med.n_pairs, med.slope_med_u
    FROM med JOIN nd ON nd.event_type = med.event_type
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E62 — Theil-Sen robust trend per event type: the median of all
    pairwise slopes between DAILY value totals. The robust-regression
    counterpart to E38's closed-form OLS — one corrupted day (an
    outage, a backfill spike) drags a least-squares slope arbitrarily
    far but moves a pairwise-slope median by at most one rank, which
    is why monitoring pipelines fit trends with Theil-Sen before
    alerting on drift.

    The fact collapses FIRST to the (type, day) rollup — map-side
    combinable, |types|x|days| rows regardless of event volume — and
    the O(days^2) pair join runs on that contracted relation, bounded
    by the CALENDAR squared, not the data (a year of days is ~66k
    pairs per type; the broadcast self-join never touches the fact
    again). At 100 TB the only full-data cost stays the one rollup
    shuffle. Slopes quantize exactly: daily sums in integer
    micro-units, slope = floor of an IEEE-exact integer/integer
    divide (both engines divide the same <2^53 integers), and the
    median is the B67 cum-count crossing — an order STATISTIC, no
    interpolation, so no float boundary exists to diverge."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("d"),
        )
        .agg(F.round(F.sum("value") * 1e6, 0).cast("long").alias("vu"))
        # |types|x|days| rows; the pair self-join shares the rollup's
        # shuffle and n_days re-derives off a pruned pass — persist
        # measured +0.27 s cold at sf0.1
    )
    a, b = daily.alias("a"), daily.alias("b")
    sl = a.join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.floor(
            (F.col("b.vu") - F.col("a.vu")) / (F.col("b.d") - F.col("a.d"))
        )
        .cast("long")
        .alias("s"),
    )
    c = sl.groupBy("event_type", "s").agg(F.count(F.lit(1)).alias("n"))
    wcum = Window.partitionBy("event_type").orderBy("s")
    wall = Window.partitionBy("event_type")
    cum = c.select(
        "event_type",
        "s",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("n").over(wall).alias("t"),
    )
    med = cum.groupBy("event_type").agg(
        F.max("t").alias("n_pairs"),
        F.min(F.when(2 * F.col("cn") >= F.col("t"), F.col("s"))).alias(
            "slope_med_u"
        ),
    )
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return med.join(F.broadcast(nd), "event_type").select(
        "event_type", "n_days", "n_pairs", "slope_med_u"
    )
