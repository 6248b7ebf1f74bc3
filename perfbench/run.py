"""Benchmark of the podcast batch system: one command per workload.

    python3 perfbench/run.py --workload podcast_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` under ``.bench_work/``, starts one Spark session with the
deployment settings pinned below, runs an untimed warm-up pass, then
drives the workload's ops for ``--seconds`` seconds with one
closed-loop client (the next op starts when the previous one ends).

Workloads (see ``workloads.py``): ``podcast_daily`` (run_daily then a
7-day run_backfill per op), ``corpus_prep`` (one CorpusPipeline.run per
op), ``query_serve`` (one registry query plus a noop-sink execution
per op, report and search op types).

Output: every line but the last is a human-readable report; the last
line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
listed in BENCHMARK.json; the line before it carries the
workload-specific end-to-end metrics (``daily_p50_s``, ``report_tail_s``,
``error_rate``...). With ``--trace 1`` every op runs twice, once with
spans recorded around the program's public functions and once
without; the last line carries the per-layer metrics of the traced
twins, the line before it every per-layer metric the workload
exercises, and the spans are written to ``.bench_out/``.

These numbers are not comparable with ``bench.py`` (min-of-5 sums over
the sf0.1 headline queries) or ``bench_corpus.py``: inputs, core count,
driver heap and statistics all differ.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spotify_podcasts_airflow_batch_spark"
# The session's own default asks for a 48 GB heap; 3 GB fits a 15 GB
# machine with room for the Python side and the page cache.
DRIVER_MEM = "3g"


def pin_settings(work: str) -> dict:
    """Deployment settings the session reads, pinned and recorded. All
    scratch space (Spark local dirs, JVM and Python temp files) lives
    inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PREFER_SMJ": "true",  # the session's shipped default
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        # the launcher JVM that assembles the spark-submit command
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "{jvm_opts}" '
            "pyspark-shell"
        ),
    }
    os.environ.update(settings)
    import tempfile

    tempfile.tempdir = tmp
    return settings


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + self_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit: closing its stdin is the gateway's exit signal."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # subprocess.TimeoutExpired: force it down
            proc.kill()
            proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine: the share of CPU time
    the hypervisor gave to other guests during the measured window."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def end_to_end(ops, setup_s: float, rss: float) -> dict:
    """The gated metrics. Each op time is first reduced to the lower
    median of its key over the run's whole cycles (a key is one registry
    query, or the op itself where all ops are alike), so contention
    that slows a single cycle does not move the result. The lower
    median picks the same position in JIT warm-up whether a run fits
    two cycles or three. ``ops_per_s`` is the throughput of a cycle
    made of those medians."""
    by_key = defaultdict(list)
    for o in ops:
        by_key[o.info.get("key", o.kind)].append(o.seconds)
    typical = [statistics.median_low(xs) for xs in by_key.values()]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(typical), "unit": "s"},
        "ops_per_s": {"value": len(typical) / sum(typical), "unit": "1/s"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    settings = pin_settings(work)
    spark = None
    try:
        t = time.perf_counter()
        wl.prepare(work, args.seed)
        prepare_s = time.perf_counter() - t

        from spotify_podcasts_airflow_batch_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t
        session_ready = time.perf_counter() - T_START - prepare_s

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.wrap_function(
                f"{PACKAGE}.sources.readers", "table", "sources.table",
                on_end=_record_table,
            )
            wl.instrument(tracer)

        t = time.perf_counter()
        wl.warm(spark)
        warm_s = time.perf_counter() - t
        setup_s = session_ready + warm_s
        wl.check_warm()  # output checks stay out of the set-up time

        ops, twins = [], []
        ticks0 = cpu_ticks()
        start = time.perf_counter()
        i = 0
        while True:
            if tracer is None:
                ops.append(wl.op(spark, i))
            elif i % 2:  # alternate which twin runs first
                twins.append(wl.op(spark, i))
                ops.append(_traced_op(tracer, wl, spark, i))
            else:
                ops.append(_traced_op(tracer, wl, spark, i))
                twins.append(wl.op(spark, i))
            i += 1
            if time.perf_counter() - start >= args.seconds and i % wl.cycle == 0:
                break
        measured_s = time.perf_counter() - start
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    all_ops = ops + twins
    failed = sum(not o.ok for o in all_ops)
    correct = failed == 0 and all(getattr(wl, "correct", {}).values())
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "closed_loop_clients": 1,
        "ops": len(all_ops),
        "op_seconds": [[o.kind, round(o.seconds, 3)] for o in ops],
        "measured_s": measured_s,
        "host_steal_share": steal / total if total else 0.0,
        "prepare_s": prepare_s,
        "errors": sorted({o.error for o in all_ops if o.error})[:5],
    }
    if getattr(wl, "correct", None):
        report["wrong_keys"] = sorted(k for k, ok in wl.correct.items() if not ok)
    e2e = end_to_end(ops, setup_s, rss)
    if tracer is None:
        report["end_to_end"] = {
            "setup_s": e2e["setup_s"],
            "error_rate": {"value": failed / len(all_ops), "unit": "ratio"},
            "peak_rss_mb": e2e["peak_rss_mb"],
            **wl.named(ops),
        }
        metrics = e2e
    else:
        from layers import per_layer

        out = os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.finish(out)
        layers, full = per_layer(tracer, wl, ops, twins, get_spark_s,
                                 int(settings["SPARK_GRAFT_CPUS"]))
        report["spans"] = os.path.relpath(out, ROOT)
        report["per_layer"] = full
        report["traced_end_to_end"] = {k: v["value"] for k, v in e2e.items()}
        report["untraced_end_to_end"] = {k: v["value"] for k, v in
                                         end_to_end(twins, setup_s, rss).items()}
        metrics = layers
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": len(all_ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def _record_table(span, args, kwargs, result) -> None:
    name = kwargs.get("name", args[2] if len(args) > 2 else None)
    sf_dir = kwargs.get("sf_dir", args[1] if len(args) > 1 else None)
    span.attrs["table"] = os.path.join(sf_dir, f"{name}.parquet")


def _traced_op(tracer, wl, spark, i: int):
    tracer.op = i
    tracer.enabled = True
    try:
        st0 = tracer.counters.stage_totals()
        sid = tracer.begin(f"op.{wl.name}")
        op = wl.op(spark, i)
        root = tracer.end(sid)
        st1 = tracer.counters.stage_totals()
        root.counters.update({k: st1[k] - st0[k] for k in st1})
        root.attrs.update(kind=op.kind, ok=op.ok, **op.info)
    finally:
        tracer.enabled = False
    return op


if __name__ == "__main__":
    sys.exit(main())
