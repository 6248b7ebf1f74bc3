"""Property-based tests (hypothesis) for operator invariants that
example-based tests can't pin down: semantics-preservation of the
salting transform, the winnowing match guarantee, sessionize gap
counting. Few examples per property (each runs a Spark job), but each
example is adversarially generated."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_keys = st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=30)


@given(left=_keys, right=_keys)
@settings(**SETTINGS)
def test_salted_join_equals_plain_join(spark, left, right):
    """Salting is semantics-free for any key multiset, including heavy
    skew (all keys equal) and empty sides."""
    from pyspark.sql import functions as F

    from spotify_podcasts_airflow_batch_spark.operators.skew import salted_join

    ldf = spark.createDataFrame(
        [(k, i) for i, k in enumerate(left)], "k long, lv long"
    )
    rdf = spark.createDataFrame(
        [(k, i) for i, k in enumerate(right)], "rk long, rv long"
    )
    salted = salted_join(
        ldf, rdf, left_key="k", right_key="rk",
        salt_source=F.col("lv"), salt_buckets=4,
    )
    plain = ldf.join(rdf, ldf.k == rdf.rk)
    got = sorted((r.k, r.lv, r.rv) for r in salted.collect())
    want = sorted((r.k, r.lv, r.rv) for r in plain.collect())
    assert got == want


_token = st.text(alphabet="abcd", min_size=1, max_size=3)


@given(
    shared=st.lists(_token, min_size=6, max_size=8),
    pre_a=st.lists(_token, min_size=0, max_size=5),
    post_b=st.lists(_token, min_size=0, max_size=5),
)
@settings(**SETTINGS)
def test_winnowing_match_guarantee(spark, shared, pre_a, post_b):
    """Two documents sharing any run of k+w-1 tokens (k=3, w=4 → 6)
    MUST share at least one winnowing fingerprint — the guarantee that
    makes fingerprint-join dedup sound (no false negatives for long
    overlaps)."""
    import spotify_podcasts_airflow_batch_spark.plans.text2 as t2

    doc_a = " ".join(pre_a + shared)
    doc_b = " ".join(shared + post_b)
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        fps = t2.winnow_fingerprint(spark, d).collect()
    a = {r.fingerprint for r in fps if r.doc_id == 0}
    b = {r.fingerprint for r in fps if r.doc_id == 1}
    assert a & b, f"no shared fingerprint: {doc_a!r} vs {doc_b!r}"


@given(
    gaps=st.lists(
        st.one_of(
            st.integers(min_value=1, max_value=7200),
            st.just(1800),  # exactly-at-threshold boundary: NOT a new session
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_sessionize_counts_gap_crossings(spark, gaps):
    """#sessions per user == 1 + #inter-event gaps strictly above the
    threshold, for any gap sequence."""
    import datetime

    from spotify_podcasts_airflow_batch_spark.operators.sessionize import (
        sessionize,
    )

    base = datetime.datetime(2024, 1, 1)
    ts, t = [], base
    for g in gaps:
        t = t + datetime.timedelta(seconds=g)
        ts.append(t)
    df = spark.createDataFrame(
        [(7, x, i) for i, x in enumerate(ts)], "user_id long, ts timestamp, event_id long"
    )
    out = sessionize(df, gap_minutes=30).collect()
    want = 1 + sum(1 for g in gaps[1:] if g > 1800)
    assert max(r.session_id for r in out) == want

_grp_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # group
        st.integers(min_value=0, max_value=9),   # score (dense → ties)
    ),
    min_size=0,
    max_size=40,
)


@given(rows=_grp_rows, quota=st.integers(min_value=1, max_value=5))
@example(rows=[], quota=1)  # empty input
@example(rows=[(0, 5)] * 30 + [(1, 5), (2, 4)], quota=2)  # skew + ties
@settings(**SETTINGS)
def test_capped_top_q_equals_plain_window(spark, rows, quota):
    """Every per-group top-k in operators/ranking is exactly a
    row_number window + filter for ANY input: groups at/below/above
    quota, heavy ties in the score, single-group skew, empty input.
    C39's salted two-stage ``capped_top_q``, the group-limited
    ``topk_per_group`` (positions included) and ``latest_per_key``
    (the k = 1 cut) all run on the same inputs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spotify_podcasts_airflow_batch_spark.operators.ranking import (
        capped_top_q,
        latest_per_key,
        topk_per_group,
    )

    df = spark.createDataFrame(
        [(g, s, i) for i, (g, s) in enumerate(rows)], "g long, s long, id long"
    )
    order = [F.col("s").desc(), F.col("id")]
    w = Window.partitionBy("g").orderBy(*order)
    ranked = [
        (r.g, r.s, r.id, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    ]
    want = sorted(t for t in ranked if t[3] <= quota)
    want_latest = sorted(t[:3] for t in ranked if t[3] == 1)

    got = sorted(
        (r.g, r.s, r.id)
        for r in capped_top_q(
            df, group_cols=("g",), order_by=order, quota=quota,
            salt_source=F.col("id"), salts=3,
        ).collect()
    )
    assert got == [t[:3] for t in want]
    got_topk = sorted(
        (r.g, r.s, r.id, r.rank)
        for r in topk_per_group(df, ["g"], order, quota).collect()
    )
    assert got_topk == want
    got_latest = sorted(
        tuple(r) for r in latest_per_key(df, ["g"], order).collect()
    )
    assert got_latest == want_latest


_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=20),   # ts (dense → ties)
    ),
    min_size=0,
    max_size=25,
)


@given(probes=_events, builds=_events)
@settings(**SETTINGS)
def test_asof_join_equals_naive_lookup(spark, probes, builds):
    """B12's as-of union+window trick is EXACTLY the naive 'latest
    right row with ts ≤ probe ts (max-id tiebreak at equal ts)' lookup
    for any inputs: duplicate timestamps on both sides, keys missing
    on either side, empty relations."""
    from pyspark.sql import functions as F

    from spotify_podcasts_airflow_batch_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(probes)],
        "k long, lt long, probe_id long",
    )
    right = spark.createDataFrame(
        [(k, t, i, i * 10) for i, (k, t) in enumerate(builds)],
        "rk long, rt long, rid long, payload long",
    )
    got = {
        r.probe_id: r.payload
        for r in asof_join(
            left=left, right=right, key="k", right_key="rk",
            left_ts="lt", right_ts="rt",
            payload_cols=["payload", "rid"],
            right_tiebreak=F.col("rid"),
        ).collect()
    }

    by_key: dict = {}
    for i, (k, t) in enumerate(builds):
        by_key.setdefault(k, []).append((t, i, i * 10))
    want = {}
    for i, (k, t) in enumerate(probes):
        cands = [(rt, rid, p) for (rt, rid, p) in by_key.get(k, []) if rt <= t]
        want[i] = max(cands)[2] if cands else None

    assert got == want


@given(
    counts=st.lists(
        st.tuples(
            st.sampled_from(["web", "books"]),
            st.sampled_from(["en", "de", "fr", "ja"]),
            st.integers(min_value=1, max_value=4_000_000_000),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**SETTINGS)
def test_source_lang_diversity_big_counts(spark, counts):
    """The Gini-Simpson rollup must stay exact for per-source corpora
    ≥3·10⁷ docs — the BIGINT form overflows at n²·10⁴ > 2⁶³ (n ≈
    3.04·10⁷), which is precisely the regime the gauge targets. The
    DECIMAL(38,0) path is compared against Python arbitrary-precision
    integers on a constructed counts relation (regression for the
    round-3 overflow, plans/text3.py source_lang_diversity)."""
    from spotify_podcasts_airflow_batch_spark.plans.text3 import (
        _lang_diversity_rollup,
    )

    cdf = spark.createDataFrame(counts, "source string, lang string, n long")
    got = {
        r["source"]: r for r in _lang_diversity_rollup(cdf).collect()
    }
    per_source: dict[str, list[int]] = {}
    for s, _lang, n in counts:
        per_source.setdefault(s, []).append(n)
    for s, ns in per_source.items():
        tot = sum(ns)
        simpson = (tot * tot - sum(n * n for n in ns)) * 10000 // (tot * tot)
        assert got[s]["n_docs"] == tot
        assert got[s]["n_langs"] == len(ns)
        assert got[s]["simpson_diversity_bp"] == simpson, (s, ns)
        assert got[s]["dominant_share_bp"] == max(ns) * 10000 // tot
