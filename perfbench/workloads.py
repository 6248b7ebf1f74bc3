"""The three benchmark workloads.

Each workload generates its inputs from the seed before Spark starts
(``prepare``), runs a warm-up pass (``warm``, part of the set-up time)
and checks its outputs (``check_warm``, not timed), then serves ops one
at a time in a closed loop (``op``). Output checks run outside the
timed region of every op; a wrong output marks the op failed.
The program is driven only through its public functions:
``PodcastPipeline.run_daily/run_backfill``, ``CorpusPipeline.run`` and
the ``plans.registry`` query callables.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen

# -- op record ---------------------------------------------------------


@dataclass
class Op:
    kind: str
    seconds: float = 0.0
    parts: dict = field(default_factory=dict)  # sub-op name → seconds
    ok: bool = True
    error: str | None = None
    info: dict = field(default_factory=dict)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def _file_bytes(root: str) -> int:
    if os.path.isfile(root):
        return os.path.getsize(root)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


# -- podcast_daily -------------------------------------------------------

PODCAST_SIZES = datagen.Sizes.scale(0.1, events_sf=0.2)
CHART_LEN = 200
BACKFILL_DAYS = 7

_CHART_ROW = """
    CAST(snapshot_date AS DATE)::VARCHAR, chart, CAST(entry_id AS BIGINT),
    CAST(user_id AS BIGINT), round(CAST(score AS DOUBLE), 2),
    CAST(rank AS INTEGER), c_name, c_mktsegment, CAST(c_nationkey AS INTEGER)
"""


class PodcastDaily:
    """Each op: ``run_daily()`` (chart rank, enrichment join, mismatch
    audit, date-partitioned parquet, union read, single-file CSV), then
    ``run_backfill()`` over a seeded 7-day range."""

    name = "podcast_daily"
    cycle = 1

    def prepare(self, work: str, seed: int) -> None:
        self.in_dir = os.path.join(work, "podcast_in")
        self.out_root = os.path.join(work, "podcast_out")
        datagen.write_podcast_inputs(self.in_dir, seed, PODCAST_SIZES)
        rng = np.random.default_rng([seed, 7])
        first = np.datetime64("2024-01-01")
        self.ranges = [
            (str(first + int(d)), str(first + int(d) + BACKFILL_DAYS - 1))
            for d in rng.integers(0, PODCAST_SIZES.event_days - BACKFILL_DAYS + 1, 4096)
        ]
        con = duckdb.connect()
        con.execute(
            f"""
            CREATE TABLE expected AS
            SELECT {_CHART_ROW} FROM (
                SELECT CAST(e.ts AS DATE) AS snapshot_date, e.event_type AS chart,
                       e.event_id AS entry_id, e.user_id, e.value AS score,
                       row_number() OVER (
                           PARTITION BY CAST(e.ts AS DATE), e.event_type
                           ORDER BY e.value DESC, e.event_id) AS rank,
                       c.c_name, c.c_mktsegment, c.c_nationkey
                FROM '{self.in_dir}/events.parquet' e
                LEFT JOIN '{self.in_dir}/customer.parquet' c
                  ON e.user_id = c.c_custkey
                QUALIFY rank <= {CHART_LEN})
            """
        )
        self.expected = sorted(con.execute("SELECT * FROM expected").fetchall())
        con.close()
        self.table_bytes = {
            t: _file_bytes(os.path.join(self.in_dir, f"{t}.parquet"))
            for t in ("events", "customer")
        }

    def _pipeline(self, spark):
        from spotify_podcasts_airflow_batch_spark.pipeline.podcast import (
            PodcastPipeline,
        )

        return PodcastPipeline(spark, self.in_dir, self.out_root, chart_len=CHART_LEN)

    def instrument(self, tracer) -> None:
        from spotify_podcasts_airflow_batch_spark.pipeline.podcast import (
            PodcastPipeline,
        )

        for m in (
            "build_charts",
            "enrich",
            "assert_no_mismatch",
            "write_daily",
            "consolidate",
            "run_daily",
            "run_backfill",
        ):
            tracer.wrap_method(PodcastPipeline, m, f"pipeline.{m}")
        for fn in ("write_daily_partitioned", "write_consolidated_csv"):
            tracer.wrap_function(
                "spotify_podcasts_airflow_batch_spark.sinks.writers",
                fn,
                "sinks.write",
                on_end=_record_sink_output,
            )

    def warm(self, spark) -> None:
        """Two untimed passes: the first run_daily of a session takes
        ~4x the steady time and the second still ~1.5x (codegen, JIT)."""
        p = self._pipeline(spark)
        for lo_hi in self.ranges[-2:]:
            self.warm_csv = p.run_daily()
            p.run_backfill(*lo_hi)

    def check_warm(self) -> None:
        try:
            self._check_csv(self.warm_csv)
            self.correct = {"warm_csv": True}
        except AssertionError:
            self.correct = {"warm_csv": False}

    # -- checks (outside the timed region) --

    def _check_csv(self, csv: str) -> None:
        con = duckdb.connect()
        got = sorted(
            con.execute(f"SELECT {_CHART_ROW} FROM read_csv_auto('{csv}')").fetchall()
        )
        con.close()
        if got != self.expected:
            raise AssertionError(
                f"consolidated CSV differs from the recomputation "
                f"({len(got)} vs {len(self.expected)} rows)"
            )

    def _partitions(self) -> dict[str, str]:
        """snapshot_date → digest of that partition's files and bytes."""
        charts = os.path.join(self.out_root, "top-charts")
        out = {}
        for d in sorted(os.listdir(charts)):
            if not d.startswith("snapshot_date="):
                continue
            h = hashlib.sha1()
            for f in sorted(os.listdir(os.path.join(charts, d))):
                h.update(f.encode())
                with open(os.path.join(charts, d, f), "rb") as fh:
                    h.update(fh.read())
            out[d.split("=", 1)[1]] = h.hexdigest()
        return out

    def _check_backfill(self, before: dict, lo: str, hi: str) -> None:
        after = self._partitions()
        outside = {d: v for d, v in before.items() if not lo <= d <= hi}
        if {d: after.get(d) for d in outside} != outside:
            raise AssertionError("backfill changed partitions outside its range")
        charts = os.path.join(self.out_root, "top-charts")
        con = duckdb.connect()
        got = sorted(
            con.execute(
                f"""SELECT {_CHART_ROW} FROM read_parquet(
                        '{charts}/*/*.parquet', hive_partitioning = true)
                    WHERE CAST(snapshot_date AS DATE) BETWEEN '{lo}' AND '{hi}'"""
            ).fetchall()
        )
        con.close()
        want = [r for r in self.expected if lo <= r[0] <= hi]
        if got != want:
            raise AssertionError(f"backfill partitions {lo}..{hi} are wrong")

    def op(self, spark, i: int) -> Op:
        op = Op("daily+backfill")
        p = self._pipeline(spark)
        lo, hi = self.ranges[i % len(self.ranges)]
        try:
            csv, op.parts["daily"] = _timed(p.run_daily)
            self._check_csv(csv)
            before = self._partitions()
            _, op.parts["backfill"] = _timed(p.run_backfill, lo, hi)
            self._check_backfill(before, lo, hi)
        except Exception as exc:  # one failed op must not end the run
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"
        op.seconds = sum(op.parts.values())
        return op

    def named(self, ops: list[Op]) -> dict:
        return {
            "daily_p50_s": _secs(_p50([o.parts.get("daily") for o in ops])),
            "backfill_p50_s": _secs(_p50([o.parts.get("backfill") for o in ops])),
        }


def _record_sink_output(span, args, kwargs, result) -> None:
    """Files and bytes a sinks.writers call committed: the data files
    under its target path modified during the span."""
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    since = span.wall - 0.05  # coarse file-system timestamps
    files = nbytes = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith("part-") or f == "consolidated.csv":
                st = os.stat(os.path.join(d, f))
                if st.st_mtime >= since:
                    files += 1
                    nbytes += st.st_size
    span.attrs.update(files=files, output_bytes=nbytes)


# -- corpus_prep ---------------------------------------------------------

CORPUS_DOCS = 1000
NEAR_DUP_SHARE = 0.3


class CorpusPrep:
    """Each op: one ``CorpusPipeline.run()`` over seeded documents plus
    one-token-appended replicas of ``NEAR_DUP_SHARE`` of them."""

    name = "corpus_prep"
    cycle = 1

    def prepare(self, work: str, seed: int) -> None:
        self.in_dir = os.path.join(work, "corpus_in")
        self.out_dir = os.path.join(work, "corpus_out")
        self.replicas = datagen.write_corpus_inputs(
            self.in_dir, seed, CORPUS_DOCS, NEAR_DUP_SHARE
        )
        self.table_bytes = {
            "documents": _file_bytes(os.path.join(self.in_dir, "documents.parquet"))
        }

    def instrument(self, tracer) -> None:
        from spotify_podcasts_airflow_batch_spark.pipeline.llm_corpus import (
            CorpusPipeline,
        )

        for m in (
            "load",
            "scrub",
            "quality_gate",
            "exact_dedup",
            "near_dedup",
            "domain_cap",
            "split",
            "write",
            "run",
        ):
            tracer.wrap_method(CorpusPipeline, m, f"pipeline.{m}")
        tracer.wrap_function(
            "spotify_podcasts_airflow_batch_spark.operators.graph",
            "connected_components",
            "operators.connected_components",
        )

    def _run(self, spark) -> dict:
        from spotify_podcasts_airflow_batch_spark.pipeline.llm_corpus import (
            CorpusPipeline,
        )

        return CorpusPipeline(spark, self.in_dir, self.out_dir).run()

    def _recall(self) -> float:
        """Injected (original, replica) pairs collapsed to exactly one
        survivor ÷ pairs with any survivor (pairs the quality gate drops
        whole are not dedup's to remove)."""
        kept = set(
            pq.read_table(self.out_dir, columns=["doc_id"]).column("doc_id").to_pylist()
        )
        alive = [(r in kept) + (o in kept) for r, o in self.replicas.items()]
        seen = sum(1 for a in alive if a)
        return sum(1 for a in alive if a == 1) / seen if seen else 1.0

    def warm(self, spark) -> None:
        self.stats = self._run(spark)

    def check_warm(self) -> None:
        pass  # every op's stats are compared with the warm-up's

    def op(self, spark, i: int) -> Op:
        op = Op("corpus")
        try:
            stats, op.parts["corpus"] = _timed(self._run, spark)
            op.info["near_dup_recall"] = self._recall()
            if stats != self.stats:
                raise AssertionError(f"run() stats changed: {stats} != {self.stats}")
        except Exception as exc:  # one failed op must not end the run
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"
        op.seconds = sum(op.parts.values())
        return op

    def named(self, ops: list[Op]) -> dict:
        return {"corpus_p50_s": _secs(_p50([o.parts.get("corpus") for o in ops]))}


# -- query_serve -----------------------------------------------------------

STAR_SF = 0.02
# episode_enrich, ivfpq_ann_served, pq_adc_ann_served, bm25_search and
# hybrid_rrf_fusion belong to the same read paths but are left out:
# their first executions in a fresh session (episode-source worker
# start-up, served index and codebook training, text scoring) add
# ~50 s to every run's set-up on 4 cores, which the benchmark's time
# budget per run cannot carry. Both search keys kept are served
# through operators/similarity.
REPORT_KEYS = (
    "top_eps_report",
    "chart_rank_move",
    "region_pivot",
    "latest_per_key",
    "join_mismatch_audit",
    "scd2_intervals",
    "daily_snapshot",
)
SEARCH_KEYS = (
    "sq8_ann_served",
    "knn_brute",
)


def _canon(rows) -> list:
    return sorted(tuple(str(x)[:26] for x in r) for r in rows)


class QueryServe:
    """A seeded sequence of read-only registry queries. Every cycle of
    the sequence is a seeded permutation of all report and search keys.
    Each op is the ``spark_fn`` call plus a noop-sink execution."""

    name = "query_serve"
    cycle = len(REPORT_KEYS) + len(SEARCH_KEYS)  # runs measure whole cycles
    tracer = None

    def prepare(self, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "star")
        datagen.write_star(self.sf_dir, seed, datagen.Sizes.scale(STAR_SF))
        rng = np.random.default_rng([seed, 11])
        keys = REPORT_KEYS + SEARCH_KEYS
        self.sequence = [k for _ in range(64) for k in rng.permutation(keys).tolist()]
        self.table_bytes = {
            f[: -len(".parquet")]: _file_bytes(os.path.join(self.sf_dir, f))
            for f in os.listdir(self.sf_dir)
        }

    def instrument(self, tracer) -> None:
        self.tracer = tracer

    def warm(self, spark) -> None:
        """First execution of every key (codegen, memoized indexes and
        trained constants), keeping its rows for ``check_warm``, then a
        second, op-shaped pass: the timed ops are at least the third
        execution of each plan, past most JIT compilation, so runs that
        fit one cycle or two measure the same thing."""
        from spotify_podcasts_airflow_batch_spark.plans.registry import all_queries

        self.registry = all_queries()
        self.warm_rows = {}
        for key in REPORT_KEYS + SEARCH_KEYS:
            df = self.registry[key].spark_fn(spark, self.sf_dir)
            self.warm_rows[key] = df.collect()
            spark.catalog.clearCache()
        for i in range(self.cycle):
            self._serve(spark, i)

    def check_warm(self) -> None:
        """Each key's rows against its DuckDB oracle, once per run."""
        con = duckdb.connect()
        for t in self.table_bytes:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.correct = {
            key: _canon(rows) == _canon(con.execute(self.registry[key].oracle).fetchall())
            for key, rows in self.warm_rows.items()
        }
        con.close()

    def _serve(self, spark, i: int) -> Op:
        key = self.sequence[i % len(self.sequence)]
        op = Op("report" if key in REPORT_KEYS else "search", info={"key": key})
        tracer = self.tracer
        span = tracer.span if tracer is not None else _no_span
        try:
            with span("plans.build", key=key):
                df, op.parts["build"] = _timed(self.registry[key].spark_fn, spark, self.sf_dir)
            with span("plans.exec", key=key):
                _, op.parts["exec"] = _timed(
                    df.write.format("noop").mode("overwrite").save
                )
            if tracer is not None and tracer.enabled:
                op.info["catalyst_s"] = _catalyst_seconds(df)
        except Exception as exc:  # one failed op must not end the run
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"
        finally:
            spark.catalog.clearCache()
        op.seconds = sum(op.parts.values())
        return op

    def op(self, spark, i: int) -> Op:
        op = self._serve(spark, i)
        key = op.info["key"]
        if op.ok and not self.correct[key]:
            op.ok, op.error = False, f"AssertionError: {key} differs from its oracle"
        return op

    def named(self, ops: list[Op]) -> dict:
        out = {}
        for kind in ("report", "search"):
            xs = [o.seconds for o in ops if o.kind == kind]
            out[f"{kind}_p50_s"] = _secs(_p50(xs))
            out[f"{kind}_tail_s"] = _tail(xs)
        wall = sum(o.seconds for o in ops)
        out["queries_per_s"] = {"value": len(ops) / wall, "unit": "1/s"}
        return out


def _no_span(name: str, **attrs):
    return contextlib.nullcontext()


def _catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of the op's plan, from
    its QueryExecution tracker (the noop write reuses the tracker)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs()
    return total / 1000.0


# -- statistics ------------------------------------------------------------


def _p50(xs) -> float | None:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def _secs(x: float | None) -> dict:
    return {"value": x, "unit": "s"}


def _tail(xs) -> dict:
    """The highest percentile with at least 10 samples beyond it
    (nearest rank), named, with the sample count; no value when the run
    has too few samples to support one."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return {"value": None, "unit": "s", "percentile": None, "samples": n}
    k = n - 10  # rank k (1-based) leaves n - k = 10 samples above it
    return {"value": xs[k - 1], "unit": "s", "percentile": f"p{100 * k / n:.0f}",
            "samples": n}


WORKLOADS = {w.name: w for w in (PodcastDaily, CorpusPrep, QueryServe)}
