"""Per-layer metrics of a traced run, averaged per traced op.

Layers are named after the package's modules: ``session``,
``sources``, ``plans``, ``pipeline``, ``operators`` and ``sinks``.
Operator metrics are Spark task counters over the whole op, since
operator and function code runs inside tasks. Because Spark is lazy, a
span that triggers an action includes the lineage it runs.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict


def listed_per_layer() -> dict:
    """name → unit of the per-layer metrics listed in BENCHMARK.json:
    the ones printed on the last line of a traced run."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _dur(s) -> float:
    return s.end - s.start


def _op_metrics(spans, cores: int, table_bytes: dict) -> dict:
    root = next(s for s in spans if s.name.startswith("op."))
    c = root.counters
    wall = _dur(root)
    m = defaultdict(float)
    tables = [s for s in spans if s.name == "sources.table"]
    read = {os.path.basename(s.attrs["table"])[: -len(".parquet")] for s in tables}
    on_disk = sum(table_bytes.get(t, 0) for t in read)
    m["sources.table_calls"] = len(tables)
    m["sources.table_s"] = sum(_dur(s) for s in tables)
    m["sources.input_bytes"] = c["input_bytes"]
    m["sources.input_rows"] = c["input_rows"]
    m["sources.scan_amplification"] = c["input_bytes"] / on_disk if on_disk else 0.0
    m["operators.tasks"] = c["tasks"]
    m["operators.task_s"] = c["task_ms"] / 1e3
    m["operators.cpu_s"] = c["cpu_ns"] / 1e9
    m["operators.busy_share"] = c["task_ms"] / 1e3 / (wall * cores) if wall else 0.0
    m["operators.gc_s"] = c["gc_ms"] / 1e3
    m["operators.shuffle_read_bytes"] = c["shuffle_read_bytes"]
    m["operators.shuffle_write_bytes"] = c["shuffle_write_bytes"]
    m["operators.spill_bytes"] = c["spill_bytes"]
    m["operators.failed_tasks"] = c["failed_tasks"]
    for s in spans:
        if s.name.startswith("pipeline."):
            m[f"{s.name}_s"] += _dur(s)
            if s.name in ("pipeline.run", "pipeline.run_daily", "pipeline.run_backfill"):
                m[f"{s.name}_self_s"] += s.self_s
            m["pipeline.jobs"] = c["jobs"]
        elif s.name == "operators.connected_components":
            m["operators.connected_components_s"] += _dur(s)
            m["operators.cc_jobs"] += s.counters["jobs"]
        elif s.name == "sinks.write":
            m["sinks.write_s"] += _dur(s)
            m["sinks.files"] += s.attrs.get("files", 0)
            m["sinks.output_bytes"] += s.attrs.get("output_bytes", 0)
        elif s.name == "plans.build":
            m["plans.build_s"] += _dur(s)
            m["plans.build_jobs"] += s.counters["jobs"]
        elif s.name == "plans.exec":
            m["plans.exec_s"] += _dur(s)
    if "near_dup_recall" in root.attrs:
        m["operators.near_dup_recall"] = root.attrs["near_dup_recall"]
    if "catalyst_s" in root.attrs:
        m["plans.catalyst_s"] = root.attrs["catalyst_s"]
    return m


def per_layer(tracer, wl, ops, twins, get_spark_s: float, cores: int):
    """Returns (the metrics listed in BENCHMARK.json as output entries,
    every metric the workload exercised as a name → value map)."""
    by_op = defaultdict(list)
    for s in tracer.spans:
        by_op[s.op].append(s)
    per_op = [_op_metrics(spans, cores, wl.table_bytes) for _, spans in sorted(by_op.items())]
    names = sorted({k for m in per_op for k in m})
    full = {k: sum(m.get(k, 0.0) for m in per_op) / len(per_op) for k in names}
    full["session.get_spark_s"] = get_spark_s
    # tracing overhead: traced minus untraced twin of the same op
    full["trace.overhead_s"] = statistics.median(
        a.seconds - b.seconds for a, b in zip(ops, twins)
    )
    untraced = statistics.mean(b.seconds for b in twins)
    full["trace.overhead_share"] = full["trace.overhead_s"] / untraced if untraced else 0.0
    listed = {k: {"value": full[k], "unit": u} for k, u in listed_per_layer().items()}
    return listed, full
