"""Guard for the one-module top-k rule: a per-group top-k with a fixed
``k`` goes through ``operators.ranking.topk_per_group``, which Spark
plans with a partial ``WindowGroupLimit`` before the group shuffle.
Hand-built salted two-stage windows stay only where no limit node can
be planned: ``ranking.capped_top_q`` (caller-supplied quota),
``dedup._cap_buckets`` (caller-supplied bucket cap) and the
``alloc``-column cut in ``llm_pipeline2``."""

from __future__ import annotations

import ast
import os

import spotify_podcasts_airflow_batch_spark as pkg

PKG = os.path.dirname(pkg.__file__)
ALLOWED = {
    os.path.join("operators", "ranking.py"),
    os.path.join("operators", "dedup.py"),
    os.path.join("plans", "llm_pipeline2.py"),
}


def _salted_windows(tree: ast.AST) -> list[int]:
    """Line numbers of ``Window.partitionBy(..., F.pmod(...), ...)``."""
    lines = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "partitionBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
        ):
            continue
        if any(
            isinstance(sub, ast.Attribute) and sub.attr == "pmod"
            for arg in node.args
            for sub in ast.walk(arg)
        ):
            lines.append(node.lineno)
    return lines


def test_only_ranking_dedup_and_alloc_cut_build_salted_windows():
    hits = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            if not f.endswith(".py") or rel in ALLOWED:
                continue
            with open(path) as fh:
                src = fh.read()
            tree = ast.parse(src)
            hits += [f"{rel}:{ln}: salted window" for ln in _salted_windows(tree)]
            hits += [
                f"{rel}:{node.lineno}: __srn column"
                for node in ast.walk(tree)
                if isinstance(node, ast.Constant) and node.value == "__srn"
            ]
    assert not hits, hits


def test_guard_sees_a_salted_window():
    src = (
        "w = Window.partitionBy('q', F.pmod(F.col('id'), F.lit(8)))\n"
        "x = df.withColumn('__srn', F.row_number().over(w))\n"
    )
    assert _salted_windows(ast.parse(src)) == [1]
