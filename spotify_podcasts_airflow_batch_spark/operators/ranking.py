"""Ranking operators.

The reference assigns chart positions with a driver-side enumerate over
a per-region Python loop (``spotify_eps.py:74-90``: ``rank: i+1`` while
iterating one region at a time, 22 sequential HTTP+pandas passes).
Spark-first this is a single window: one shuffle on the group key,
rank assigned in parallel across all groups at once. At 100 TB the
window shuffles each group to one task — group cardinality (region ×
day) is high and per-group size is bounded (chart length), so there is
no skew concern; no global sort is ever performed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group with a dense, deterministic position column.

    ``order_by`` must define a total order (include a unique tiebreaker)
    so results are reproducible run-to-run — the driver-side enumerate
    in the reference was deterministic only because the API returned a
    pre-sorted list.

    This is the package's one per-group top-k with a fixed ``k``.
    Contract: ``k`` is a literal int no larger than
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000),
    and the ``<= k`` filter sits directly on the ``row_number`` column
    (as built here).
    Spark then plans a ``WindowGroupLimit`` in ``Partial`` mode BEFORE
    the group-key exchange: each map task keeps at most ``k`` rows per
    group, so no task ever holds a hot group's whole input and the
    shuffle carries at most tasks × groups × k rows; no salt is needed.

    ``capped_top_q`` remains for quotas that break the contract: a
    caller-supplied quota may exceed the threshold, and then Spark
    inserts no limit node, so only the salt bounds the per-task sort.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= F.lit(k))
    )


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep the single most-recent row per key (daily-updated-dataset
    semantics — the reference republishes the full consolidated CSV to
    Kaggle daily, implicitly keeping the latest version per episode;
    ``kaggle_update_dag.py``). ``topk_per_group`` with ``k = 1``: the
    partial group limit keeps one row per key per map task before the
    key shuffle."""
    return topk_per_group(df, key_cols, order_by, 1, "__rn").drop("__rn")


def capped_top_q(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    quota: int,
    salt_source: Column,
    salts: int = 4,
) -> DataFrame:
    """Skew-safe per-group quota cap: keep each group's top ``quota``
    rows under ``order_by`` (which must be a total order), equivalent
    to a plain row_number window + filter for ANY input. Use it only
    when ``quota`` comes from a caller and may exceed Spark's window
    group-limit threshold; a fixed small ``k`` goes through
    ``topk_per_group``.

    Shape: groups within quota are identified by a
    cheap count aggregate and pass through on a broadcast anti join —
    they never enter a window. Over-quota groups are first cut to a
    per-salt top-Q (salt = ``salt_source`` mod ``salts``), so the
    final per-group sort sees ≤ salts·quota rows per group regardless
    of how hot the group is; the global top-Q is always contained in
    the union of per-salt top-Qs, so the two-stage cut is exact.
    ``salt_source`` must be deterministic per row (an id column, not
    rand()) so re-runs and retries keep the same membership."""
    over = (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__grp_n"))
        .where(F.col("__grp_n") > quota)
        .select(*group_cols)
        # group-sized; it broadcasts into BOTH the anti and the semi
        # join. The anti/semi split already makes two passes over the
        # input by design; re-deriving this tiny group count adds one
        # pruned group-cols-only pass — measured 0.14 s cheaper cold
        # at sf0.1 than a persist barrier on it
    )
    under_rows = df.join(F.broadcast(over), list(group_cols), "left_anti")
    over_rows = df.join(F.broadcast(over), list(group_cols), "left_semi")
    salted = Window.partitionBy(
        *group_cols, F.pmod(salt_source, F.lit(salts))
    ).orderBy(*order_by)
    survivors = (
        over_rows.withColumn("__srn", F.row_number().over(salted))
        .where(F.col("__srn") <= quota)
        .drop("__srn")
    )
    final = Window.partitionBy(*group_cols).orderBy(*order_by)
    capped = (
        survivors.withColumn("__rn", F.row_number().over(final))
        .where(F.col("__rn") <= quota)
        .drop("__rn")
    )
    return under_rows.unionByName(capped)
