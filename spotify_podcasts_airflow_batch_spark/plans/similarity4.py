"""Incremental ANN index maintenance (SURVEY §2 D39/D39b/D40).

The served quantizer indexes (D24c/D28c/D29c/D31c) rebuild per dataset
fingerprint; production instead APPENDS a daily batch and tombstones
deletes, the way the manifest layer already maintains tables
(sinks/manifest.py commit_version — O(changed), never O(table)). This
module gives the IVF-PQ family that lifecycle:

- **day 0**: train the PQ codebook and the √n coarse cells on the
  base corpus and FREEZE them (production ships the quantizer as an
  artifact — artifacts.json in the store); encode the base and write
  it as the ``epoch=0`` segment of a by-cell hive layout.
- **append**: encode ONLY the new batch against the frozen artifacts
  (one shuffle-free O(new) projection — the base is never rescanned)
  and append it as its own epoch segment into the same cell
  partitions, so dynamic partition pruning keeps restricting serving
  scans to probed cells.
- **delete**: tombstone vec_ids in a side relation; serving
  anti-joins the (tiny, broadcast) tombstone set.

The invariant that makes this safe — N appends + tombstones ≡ ONE
encode of the live corpus with the same frozen artifacts — holds
because encoding is a pure per-row function of the frozen constants.
D39's oracle IS that one-shot rebuild, derived end-to-end in SQL
(base-slice Lloyd chains + live-corpus encode + serve), so the driver
hash-checks appends ≡ rebuild cross-engine; tests/test_ann_incremental
pins the same equality inside Spark plus O(new) append scan shape.

Staleness: frozen day-0 quantizers drift as the corpus grows. D34
``centroid_drift`` prices WHEN to retrain; D40 ``ann_staleness_recall``
prices what serving appends on stale centroids COSTS — recall@10 of
the frozen-artifact index against exact L2 over the live corpus, read
alongside D28b (same dial with retrained-on-full artifacts).

Wave layout over the static test tables: epoch = vec_id % 3 (day-0
base, two daily appends), tombstones = base rows with vec_id % 7 = 0.
Deterministic, so both engines derive identical segments.

Reference shape: FAISS IndexIVF add_core/remove_ids — append encodes
against the frozen quantizer, deletes mask the id; the reference repo
has no vector serving (dags/spotify/ is a pandas chart ETL), so this
is part of the engine's LLM-pipeline surface, not a port.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.artifacts import store
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
    _EMBED_DIMS,
    _IVFPQ_K,
    _IVFPQ_MOD,
    _IVFPQ_NPROBE,
    _ivf_lloyd_sql,
    _ivfpq_encoded,
    _ivfpq_serve,
    _pq_exact_topk,
    _pq_lloyd_sql,
    _pq_case_sql,
    ivf_train_cells,
    pq_train_codebook,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import table

_INC_WAVES = 3  # day-0 base + two daily append batches
_INC_TOMB_MOD = 7  # tombstone base rows with vec_id % 7 == 0

_SERVE_SCHEMA = "query_id bigint, rank int, vec_id bigint, adc_dist double"


def _emb(spark: SparkSession, sf_dir: str, fan_out: str | None = None):
    kw = {"fan_out": fan_out} if fan_out else {}
    return table(spark, sf_dir, "embeddings", **kw).select(
        "vec_id", "embedding"
    )


def _wave(emb: DataFrame, w: int) -> DataFrame:
    return emb.where(F.col("vec_id") % _INC_WAVES == w)


def build_base_store(
    spark: SparkSession, sf_dir: str, base: DataFrame, root: str
) -> str:
    """Day-0 store build at ``root``: train the PQ codebook and the √n
    coarse cells on ``base``, FREEZE them as artifacts.json, encode
    the base as the ``epoch=0`` segment. Layout:

        <root>/artifacts.json   frozen day-0 quantizers
        <root>/segments/        (vec_id, codes) hive-partitioned by
                                (epoch, cell_id) — epoch 0 = base,
                                epochs 1..N = appends; epoch-level
                                partitions make every append
                                REPLAY-IDEMPOTENT (dynamic overwrite
                                of its own partition), cell_id keeps
                                dynamic partition pruning for serving
        <root>/tombstones/      deleted vec_ids"""
    cents = pq_train_codebook(spark, sf_dir, emb=base)
    cells = ivf_train_cells(spark, sf_dir, emb=base)
    os.makedirs(root, exist_ok=True)
    if cents and cents[0] and cells:
        (
            _ivfpq_encoded(spark, sf_dir, cents=cents, cells=cells, emb=base)
            .withColumn("epoch", F.lit(0))
            # co-locate each cell before the partitioned write: one
            # file per cell instead of (encode tasks × cells) small
            # files — at √n cells an unshuffled write is a
            # files-explosion (32 tasks × 4096 cells per epoch)
            .repartition("cell_id")
            .write.mode("overwrite")
            .partitionBy("epoch", "cell_id")
            .parquet(os.path.join(root, "segments"))
        )
        base.select("vec_id").limit(0).write.mode("overwrite").parquet(
            os.path.join(root, "tombstones")
        )
    with open(os.path.join(root, "artifacts.json"), "w") as fh:
        json.dump({"cents": cents, "cells": cells}, fh)
    return root


def append_batch(
    spark: SparkSession, root: str, batch: DataFrame, epoch: int
) -> None:
    """Encode ``batch`` with the store's FROZEN artifacts — one
    shuffle-free O(new) projection, the base is never rescanned — and
    land it as the ``epoch=N`` segment partition. The write
    dynamically OVERWRITES its own epoch partition, so an
    at-least-once replay (the streaming/dedup.py discipline) lands
    the identical files instead of duplicating rows."""
    cents, cells = _load_artifacts(root)
    (
        _ivfpq_encoded(spark, "", cents=cents, cells=cells, emb=batch)
        .withColumn("epoch", F.lit(int(epoch)))
        # one file per touched cell (see build_base_store) — the
        # batch is small, so this shuffle is O(batch)
        .repartition("cell_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch", "cell_id")
        .parquet(os.path.join(root, "segments"))
    )


def tombstone_ids(spark: SparkSession, root: str, ids: DataFrame) -> None:
    """Record deletes — an append to the fingerprint-sized tombstone
    relation, never a segment rewrite."""
    ids.select("vec_id").write.mode("append").parquet(
        os.path.join(root, "tombstones")
    )


def ivfpq_incremental_store(spark: SparkSession, sf_dir: str) -> str:
    """The deterministic 3-wave store over ``sf_dir``'s embeddings
    (base = vec_id % 3 == 0, two appends, base deletes tombstoned) —
    the fixture every D39/D39b/D40/D41 query serves from. Memoized
    per dataset fingerprint like the other served indexes; building
    is deterministic, so the memo can never change a result."""

    def build(root: str) -> None:
        emb = _emb(spark, sf_dir, fan_out="force")
        build_base_store(spark, sf_dir, _wave(emb, 0), root)
        cents, cells = _load_artifacts(root)
        if cents and cents[0] and cells:
            # deletes arrive after day 0: tombstone, never rewrite
            tombstone_ids(
                spark,
                root,
                _wave(emb, 0).where(F.col("vec_id") % _INC_TOMB_MOD == 0),
            )
            for w in range(1, _INC_WAVES):
                append_batch(spark, root, _wave(emb, w), epoch=w)

    return store(
        "ivfpq_inc", sf_dir, ("embeddings",), build, valid=_store_is_valid
    )


def _store_is_valid(root: str) -> bool:
    """The stores' validity hook (artifacts.store): a store is
    servable when its artifacts exist AND — for a non-empty corpus —
    its segment write committed (_SUCCESS). An externally-removed
    segments dir must trigger a rebuild, not a dangling read."""
    if not os.path.isfile(os.path.join(root, "artifacts.json")):
        return False
    try:
        cents, cells = _load_artifacts(root)
    except (OSError, ValueError, KeyError):
        return False
    if not cents or not cents[0] or not cells:
        return True  # empty-corpus store: artifacts are the whole state
    # the tombstone relation is part of the servable state too: an
    # externally-removed tombstones/ would pass an artifacts+segments
    # check and then fail as a dangling read inside
    # incremental_live_index (ADVICE r9 — the exact failure class this
    # helper exists to prevent)
    return os.path.isfile(
        os.path.join(root, "segments", "_SUCCESS")
    ) and os.path.isdir(os.path.join(root, "tombstones"))


def _load_artifacts(root: str) -> tuple[list, list]:
    """Frozen quantizers from the store — the production path: serving
    never retrains. JSON roundtrips the exact values (centroid floats
    are cu/1e6 grid points with exact shortest-repr doubles; cells are
    BIGINT micro-units)."""
    with open(os.path.join(root, "artifacts.json")) as fh:
        art = json.load(fh)
    return art["cents"], art["cells"]


# Broadcast the tombstone anti-join side only while it is actually
# broadcast-sized. Tombstones are USUALLY fingerprint-sized (deletes
# trickle, compaction zeroes them), but growth is unbounded between
# compactions — a delete-heavy store would otherwise pin an
# unconditional broadcast of an arbitrarily large relation (VERDICT r9
# "what's wrong" #1, the OOM-shaped plan fk_integrity_audit avoids).
# 8 MiB of parquet ≈ well under executor broadcast budgets at any
# reasonable executor size; past it, leave the join to AQE.
_TOMB_BROADCAST_MAX_BYTES = 8 << 20
# live tombstone fraction past which maybe_compact_store rewrites
_AUTO_COMPACT_TOMB_FRAC = 0.10


def _dir_parquet_bytes(path: str) -> int:
    """Total data-file bytes under ``path`` — a stat-level proxy for
    relation size (no read). Missing dir → 0."""
    import glob as _glob

    return sum(
        os.path.getsize(p)
        for p in _glob.glob(
            os.path.join(path, "**", "*.parquet"), recursive=True
        )
        if os.path.isfile(p)
    )


def incremental_live_index(
    spark: SparkSession,
    root: str,
    tomb_broadcast_max_bytes: int = _TOMB_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """(vec_id, codes, cell_id) across ALL epoch segments minus
    tombstones — the relation serving scans. The tombstone anti-join
    side gets a broadcast hint only under
    ``tomb_broadcast_max_bytes`` of on-disk parquet; a delete-heavy
    store that outgrew the threshold (it should have compacted —
    see ``maybe_compact_store``) falls back to an unhinted anti-join
    and lets AQE pick the strategy."""
    seg = spark.read.parquet(os.path.join(root, "segments"))
    tomb = spark.read.parquet(os.path.join(root, "tombstones"))
    tomb_bytes = _dir_parquet_bytes(os.path.join(root, "tombstones"))
    if tomb_bytes <= tomb_broadcast_max_bytes:
        tomb = F.broadcast(tomb)
    return seg.join(tomb, "vec_id", "anti").select(
        "vec_id", "codes", "cell_id"
    )


# compaction re-packs each cell into ceil(rows / this) files: small
# cells stay one file (no small-file regression), hot cells split so
# serving keeps intra-cell scan parallelism. At ~30 B/encoded row,
# 1M rows ≈ a few tens of MB per file — comfortably one scan split.
_COMPACT_ROWS_PER_FILE = 1 << 20


def compact_store(
    spark: SparkSession,
    root: str,
    out_root: str,
    rows_per_file: int = _COMPACT_ROWS_PER_FILE,
) -> str:
    """OPTIMIZE for the incremental store (the sinks/manifest.py
    compaction discipline applied to the index): rewrite the epoch
    segments as ONE segment with tombstones PHYSICALLY applied and
    each cell re-packed into ceil(rows / rows_per_file) files — read
    amplification from N daily appends (N small files per hot cell)
    drops back to the freshly-built layout, and the dead rows stop
    being scanned and anti-joined on every query. Cells are NOT
    forced into a single file: a hot cell (D43's own drift metric —
    frozen cells drift toward hot) above ``rows_per_file`` rows
    splits into salted sub-files, so a probed hot cell still fans out
    over multiple scan splits instead of riding one task (VERDICT r9
    follow-up #5). Pure data movement either way: the frozen
    artifacts are copied verbatim and no row is re-encoded, so the
    compacted store serves BIT-IDENTICAL results (pinned by D41
    sharing D39's one-shot-rebuild oracle)."""
    import shutil

    os.makedirs(out_root, exist_ok=True)
    shutil.copyfile(
        os.path.join(root, "artifacts.json"),
        os.path.join(out_root, "artifacts.json"),
    )
    live = incremental_live_index(spark, root)
    # per-cell row counts decide each cell's file fan-out; the count
    # relation is one row per OCCUPIED cell (≈ √n at scale — 158k rows
    # even for a 25B-vector corpus), so the join side is broadcastable
    counts = live.groupBy("cell_id").agg(
        F.ceil(F.count(F.lit(1)) / float(rows_per_file)).alias("__nf")
    )
    (
        live.join(F.broadcast(counts), "cell_id")
        .withColumn(
            "__salt", F.pmod(F.xxhash64("vec_id"), F.col("__nf"))
        )
        .withColumn("epoch", F.lit(0))
        # co-locate each (cell, salt) slice into its own task so a
        # cell partition lands as exactly __nf files
        .repartition("cell_id", "__salt")
        .select("vec_id", "codes", "cell_id", "epoch")
        .write.mode("overwrite")
        # belt to the salt's suspenders: two salt slices of one cell
        # can hash into the SAME reduce task, which would merge them
        # back into one file — the writer-level cap rolls the file
        # over at the threshold regardless of task placement
        .option("maxRecordsPerFile", int(rows_per_file))
        .partitionBy("epoch", "cell_id")
        .parquet(os.path.join(out_root, "segments"))
    )
    live.select("vec_id").limit(0).write.mode("overwrite").parquet(
        os.path.join(out_root, "tombstones")
    )
    return out_root


def maybe_compact_store(
    spark: SparkSession,
    root: str,
    out_root: str,
    tomb_frac: float = _AUTO_COMPACT_TOMB_FRAC,
) -> str:
    """Auto-compaction trigger (the maintenance half of the VERDICT r9
    broadcast guard): when the tombstoned fraction of stored rows
    crosses ``tomb_frac``, rewrite into ``out_root`` (tombstones
    physically applied, layout re-packed) and return it; otherwise
    return ``root`` untouched. Both counts are parquet
    metadata-only (count-star folds to footer row counts — no data
    pages), so the check costs KBs of footer reads even on a huge
    store. Serving paths that adopt the returned root keep the
    anti-join side fingerprint-sized, which is what keeps the
    broadcast hint in ``incremental_live_index`` valid."""
    seg_n = spark.read.parquet(os.path.join(root, "segments")).count()
    tomb_n = spark.read.parquet(os.path.join(root, "tombstones")).count()
    if seg_n == 0 or tomb_n <= tomb_frac * seg_n:
        return root
    return compact_store(spark, root, out_root)


# ------------------------------------------------- retrain + cutover
def write_current_pointer(vroot: str, store_root: str) -> None:
    """Atomic blue/green cutover: point ``<vroot>/CURRENT`` at
    ``store_root`` by writing a temp file (flushed + fsynced) and
    ``os.replace``-ing it over the pointer — POSIX rename atomicity,
    so a concurrent reader sees the OLD complete pointer or the NEW
    complete pointer, never a partial write. The store the pointer
    used to reference is untouched: rollback is one more
    ``write_current_pointer`` back at it."""
    os.makedirs(vroot, exist_ok=True)
    tmp = os.path.join(vroot, ".CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(store_root + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(vroot, "CURRENT"))


def read_current_pointer(vroot: str) -> str | None:
    """The store root ``CURRENT`` points at, or None when no cutover
    has been recorded yet."""
    try:
        with open(os.path.join(vroot, "CURRENT")) as fh:
            path = fh.read().strip()
    except FileNotFoundError:
        return None
    return path or None


def retrain_store(
    spark: SparkSession, sf_dir: str, root: str, out_root: str
) -> str:
    """The third lifecycle verb (VERDICT r9 follow-up #1 — FAISS's
    add_core/remove_ids framing has train as the missing verb): train
    FRESH quantizers on the store's CURRENT live corpus, re-encode it
    once (one O(corpus) batch — the cost D34/D40/D43 price before
    paying), and write the result as a complete NEW store at
    ``out_root``. The old store at ``root`` is never touched: the
    caller cuts over with ``write_current_pointer`` and keeps the old
    version for rollback. Live membership comes FROM THE STORE
    (segments minus tombstones), not from the fixture's wave
    arithmetic — retrain serves whatever the store says is alive."""
    live_ids = incremental_live_index(spark, root).select("vec_id")
    live = _emb(spark, sf_dir, fan_out="force").join(
        live_ids, "vec_id", "semi"
    )
    return build_base_store(spark, sf_dir, live, out_root)


def gc_versions(vroot: str, keep: int = 2) -> list[str]:
    """Version GC — the hygiene verb after cutover: prune old store
    versions under ``vroot``, keeping the CURRENT pointer's target
    plus the ``keep - 1`` highest-numbered other versions (rollback
    depth). Returns the removed roots. Safety rails: only ``v\\d+``
    directories inside ``vroot`` are candidates (the blue incremental
    store lives OUTSIDE the version root and is never touched), and
    the pointer target is never removed regardless of age — a
    concurrent reader that just resolved CURRENT must always find its
    store. Run AFTER a cutover has been verified, the way the
    manifest layer expires old snapshots."""
    import re
    import shutil

    cur = read_current_pointer(vroot)
    versions = sorted(
        (
            d
            for d in os.listdir(vroot)
            if re.fullmatch(r"v\d+", d)
            and os.path.isdir(os.path.join(vroot, d))
        ),
        key=lambda d: int(d[1:]),
        reverse=True,
    )
    keep_set = {os.path.basename(cur)} if cur else set()
    for d in versions:
        if len(keep_set) >= max(1, keep):
            break
        keep_set.add(d)
    removed = []
    for d in versions:
        path = os.path.join(vroot, d)
        if d in keep_set or (cur and os.path.realpath(path) == os.path.realpath(cur)):
            continue
        shutil.rmtree(path)
        removed.append(path)
    return removed


def ivfpq_retrained_store(spark: SparkSession, sf_dir: str) -> str:
    """The D44 fixture: version root holding the incremental store as
    the BLUE version and a live-corpus retrain as the GREEN one, with
    an atomic ``CURRENT`` pointer cutover — returns the store the
    pointer serves (post-cutover: the retrained one). Memoized like
    the other served indexes; deterministic build, so the memo can
    never change a result."""

    def build(vroot: str) -> None:
        root = ivfpq_incremental_store(spark, sf_dir)
        # blue: the incremental store keeps serving while retrain builds
        write_current_pointer(vroot, root)
        cents, cells = _load_artifacts(root)
        if cents and cents[0] and cells:
            new = os.path.join(vroot, "v001")
            retrain_store(spark, sf_dir, root, new)
            # green: one atomic pointer swap; blue stays for rollback
            write_current_pointer(vroot, new)

    def pointer_is_valid(vroot: str) -> bool:
        cur = read_current_pointer(vroot)
        return cur is not None and _store_is_valid(cur)

    vroot = store(
        "ivfpq_retrained", sf_dir, ("embeddings",), build,
        valid=pointer_is_valid,
    )
    return read_current_pointer(vroot)


def ivfpq_compacted_store(spark: SparkSession, sf_dir: str) -> str:
    def build(out: str) -> None:
        import shutil

        root = ivfpq_incremental_store(spark, sf_dir)
        cents, cells = _load_artifacts(root)
        if cents and cents[0] and cells:
            compact_store(spark, root, out)
        else:
            shutil.copyfile(
                os.path.join(root, "artifacts.json"),
                os.path.join(out, "artifacts.json"),
            )

    return store(
        "ivfpq_inc_compact", sf_dir, ("embeddings",), build,
        valid=_store_is_valid,
    )


# ------------------------------------------------------------ oracles
def _inc_train_ctes() -> str:
    """Frozen day-0 artifact derivation in SQL: the PQ Lloyd chain
    (→ cb) and the coarse full-vector Lloyd chain (→ ccents) both
    re-pointed at the BASE slice, plus pts (all rows, quantized) for
    assignment. Replaces are anchored on the generated chains' only
    corpus references (samp/seedv read "FROM embeddings"; cn/cm/
    csamp/ccents0 read "FROM pts")."""
    dims = range(_EMBED_DIMS)

    def qx(e: str) -> str:
        return f"CAST(round(CAST({e} AS DOUBLE) * 1e6, 0) AS BIGINT)"

    pts_cols = ", ".join(
        f"{qx(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims
    )
    pq_chain = _pq_lloyd_sql().replace("FROM embeddings", "FROM bemb")
    ivf_chain = _ivf_lloyd_sql().replace("FROM pts", "FROM bpts")
    return f"""bemb AS MATERIALIZED (
        SELECT * FROM embeddings WHERE vec_id % {_INC_WAVES} = 0
    ),
    {pq_chain},
    pts AS MATERIALIZED (
        SELECT e.vec_id, {pts_cols} FROM embeddings e
    ),
    bpts AS MATERIALIZED (
        SELECT * FROM pts WHERE vec_id % {_INC_WAVES} = 0
    ),
    {ivf_chain}"""


_LIVE_SQL = f"""live AS MATERIALIZED (
        SELECT * FROM embeddings
        WHERE NOT (vec_id % {_INC_WAVES} = 0
                   AND vec_id % {_INC_TOMB_MOD} = 0)
    )"""


def _retrain_ctes() -> str:
    """Artifact derivation RETRAINED ON THE LIVE CORPUS — the D44
    blue/green twin of ``_inc_train_ctes``: both Lloyd chains
    re-pointed at the live rows (appends minus tombstones), exactly
    what ``retrain_store`` trains on. Provides the same CTE surface
    the serve tail consumes (``live``, ``cb``, ``pts``, ``ccents``);
    the anchors are the chains' only corpus references (samp/seedv
    read "FROM embeddings" → live; cn/cm/csamp/ccents0 read
    "FROM pts" → lpts)."""
    dims = range(_EMBED_DIMS)

    def qx(e: str) -> str:
        return f"CAST(round(CAST({e} AS DOUBLE) * 1e6, 0) AS BIGINT)"

    pts_cols = ", ".join(
        f"{qx(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims
    )
    pq_chain = _pq_lloyd_sql().replace("FROM embeddings", "FROM live")
    ivf_chain = _ivf_lloyd_sql().replace("FROM pts", "FROM lpts")
    return f"""{_LIVE_SQL},
    {pq_chain},
    pts AS MATERIALIZED (
        SELECT e.vec_id, {pts_cols} FROM embeddings e
    ),
    lpts AS MATERIALIZED (
        SELECT p.* FROM pts p JOIN live l ON l.vec_id = p.vec_id
    ),
    {ivf_chain}"""


def _inc_serve_oracle(
    k: int = _IVFPQ_K, train_ctes: str | None = None
) -> str:
    """The one-shot-rebuild twin of the incremental store: encode the
    LIVE corpus (appends minus tombstones) with the frozen base
    artifacts and serve — hash-equality against the segment-built
    Spark path proves N appends + tombstones ≡ full rebuild.

    ``train_ctes`` swaps the artifact derivation (default: frozen
    day-0 base training + the live-corpus CTE; D44 passes
    ``_retrain_ctes()`` — trained on live — so the SAME serve tail
    proves the retrained store against a retrained one-shot build).
    Whatever is passed must provide ``live``, ``cb``, ``pts`` and
    ``ccents``."""
    from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
        _PQ_M,
    )

    if train_ctes is None:
        train_ctes = f"""{_inc_train_ctes()},
    {_LIVE_SQL}"""
    dims = range(_EMBED_DIMS)
    d2u = " + ".join(
        f"(p.x{j} - ct.c{j}) * (p.x{j} - ct.c{j})" for j in dims
    )
    return f"""
    WITH {train_ctes},
    cell_rank AS (
        SELECT p.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY ({d2u}), ct.cell_id) AS r
        FROM pts p CROSS JOIN ccents ct
    ),
    corpus_cell AS (
        SELECT cr.vec_id, cr.cell_id
        FROM cell_rank cr JOIN live l ON l.vec_id = cr.vec_id
        WHERE cr.r = 1
    ),
    qsel AS (
        SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id % {_IVFPQ_MOD} = 0
    ),
    probe_cells AS (
        SELECT q.query_id, cr.cell_id
        FROM qsel q JOIN cell_rank cr ON cr.vec_id = q.query_id
        WHERE cr.r <= {_IVFPQ_NPROBE}
    ),
    ms AS (SELECT unnest(range({_PQ_M})) AS m),
    enc AS (
        SELECT e.vec_id, ms.m, cb.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id, ms.m
                   ORDER BY {_pq_case_sql('e.embedding', 'cb.embedding')},
                            cb.cid
               ) AS rn
        FROM live e CROSS JOIN ms CROSS JOIN cb
    ),
    codes AS (SELECT vec_id, m, cid FROM enc WHERE rn = 1),
    adc AS (
        SELECT q.query_id, ms.m, cb.cid,
               CAST(round({_pq_case_sql('q.embedding', 'cb.embedding')}
                          * 1e6, 0) AS BIGINT) AS cell_u
        FROM qsel q CROSS JOIN ms CROSS JOIN cb
    ),
    scored AS (
        SELECT pr.query_id, cc.vec_id, sum(a.cell_u) AS score_u
        FROM probe_cells pr
        JOIN corpus_cell cc ON cc.cell_id = pr.cell_id
        JOIN codes c ON c.vec_id = cc.vec_id
        JOIN adc a ON a.query_id = pr.query_id
                  AND a.m = c.m AND a.cid = c.cid
        GROUP BY pr.query_id, cc.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, score_u,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score_u, vec_id
               ) AS rank
        FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           round(score_u / 1e6, 6) + 0 AS adc_dist
    FROM ranked WHERE rank <= {k}
    """


def _inc_segments_oracle() -> str:
    """From-scratch derivation of the store's bookkeeping: per epoch,
    rows encoded, distinct cells touched, tombstoned and live counts —
    coarse assignment only (codes don't change the audit)."""
    dims = range(_EMBED_DIMS)
    d2u = " + ".join(
        f"(p.x{j} - ct.c{j}) * (p.x{j} - ct.c{j})" for j in dims
    )
    return f"""
    WITH {_inc_train_ctes()},
    assigned AS (
        SELECT p.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY ({d2u}), ct.cell_id) AS r
        FROM pts p CROSS JOIN ccents ct
    ),
    rows_ AS (
        SELECT a.vec_id, a.cell_id,
               CAST(a.vec_id % {_INC_WAVES} AS INT) AS epoch,
               CASE WHEN a.vec_id % {_INC_WAVES} = 0
                         AND a.vec_id % {_INC_TOMB_MOD} = 0
                    THEN 1 ELSE 0 END AS tomb
        FROM assigned a WHERE a.r = 1
    )
    SELECT epoch,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT cell_id) AS BIGINT) AS n_cells,
           CAST(sum(tomb) AS BIGINT) AS n_tombstoned,
           CAST(count(*) - sum(tomb) AS BIGINT) AS n_live
    FROM rows_ GROUP BY epoch ORDER BY epoch
    """


def _inc_occupancy_oracle() -> str:
    """Cumulative per-epoch occupancy of the frozen-quantizer cells
    over the CURRENT live rows — the from-scratch twin of the store
    rollup (assignment chain + epoch/tombstone mapping in SQL)."""
    dims = range(_EMBED_DIMS)
    d2u = " + ".join(
        f"(p.x{j} - ct.c{j}) * (p.x{j} - ct.c{j})" for j in dims
    )
    return f"""
    WITH {_inc_train_ctes()},
    assigned AS (
        SELECT p.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY ({d2u}), ct.cell_id) AS r
        FROM pts p CROSS JOIN ccents ct
    ),
    rows_ AS (
        SELECT a.vec_id, a.cell_id,
               CAST(a.vec_id % {_INC_WAVES} AS INT) AS epoch
        FROM assigned a
        WHERE a.r = 1
          AND NOT (a.vec_id % {_INC_WAVES} = 0
                   AND a.vec_id % {_INC_TOMB_MOD} = 0)
    ),
    es AS (SELECT CAST(unnest(range({_INC_WAVES})) AS INT) AS epoch),
    counts AS (
        SELECT e.epoch, r.cell_id, count(*) AS n
        FROM es e JOIN rows_ r ON r.epoch <= e.epoch
        GROUP BY e.epoch, r.cell_id
    ),
    k AS (SELECT count(*) AS k FROM ccents)
    SELECT c.epoch,
           CAST(sum(c.n) AS BIGINT) AS n_live,
           CAST(count(*) AS BIGINT) AS cells_used,
           CAST(max(c.n) AS BIGINT) AS occ_max,
           CAST(sum(c.n) // (SELECT k FROM k) AS BIGINT) AS occ_avg,
           CAST(ceil(sqrt(CAST(sum(c.n) AS DOUBLE))) AS BIGINT)
               AS cells_ideal
    FROM counts c GROUP BY c.epoch ORDER BY c.epoch
    """


def _inc_staleness_oracle(serve_sql: str | None = None) -> str:
    """Recall@{k} of the frozen-base-artifact index against exact L2
    over the LIVE corpus — the D28b formula with the incremental
    candidate relation and the tombstone-filtered exact side.
    ``serve_sql`` swaps the candidate generator (D44b passes the
    retrained serve, so the same formula prices the recall the
    retrain BOUGHT against this dial's stale number)."""
    from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
        _pq_full_dist_sql,
    )

    if serve_sql is None:
        serve_sql = _inc_serve_oracle()
    return f"""
    WITH cand AS MATERIALIZED (
        SELECT * FROM ({serve_sql})
        WHERE vec_id <> query_id
    ),
    {_LIVE_SQL},
    q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id % {_IVFPQ_MOD} = 0
    ),
    exact AS MATERIALIZED (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(
                           {_pq_full_dist_sql('q.embedding', 'c.embedding')},
                           6), c.vec_id
                   ) AS r
            FROM q CROSS JOIN live c
            WHERE c.vec_id <> q.query_id
        ) WHERE r <= {_IVFPQ_K}
    ),
    hits AS (
        SELECT e.query_id, count(*) AS n
        FROM exact e JOIN cand c
          ON c.query_id = e.query_id AND c.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) * 10000 // {_IVFPQ_K} AS BIGINT)
               AS recall_bp
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    """


# ------------------------------------------------------------ queries
@register("ivfpq_incremental_served", oracle=_inc_serve_oracle())
def ivfpq_incremental_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D39 — IVF-PQ serving from an INCREMENTALLY MAINTAINED index:
    day-0 base build (train + freeze + encode), two daily appends
    encoded O(new) against the frozen artifacts into the same by-cell
    hive layout, deletes tombstoned. Serving unions the epoch
    segments, anti-joins the broadcast tombstones, and runs the D28c
    tail with the FROZEN quantizers.

    The oracle is the ONE-SHOT REBUILD (encode the live corpus with
    the same frozen artifacts, in SQL from scratch), so a green hash
    row is the cross-engine proof that N appends + tombstones ≡ full
    rebuild — the manifest-layer O(changed) discipline
    (sinks/manifest.py commit_version) applied to vector serving. At
    100 TB this is the only maintainable shape: a daily append costs
    |batch| encode work + one partition-local write; the alternative
    (re-encode the corpus) costs O(corpus) per day."""
    root = ivfpq_incremental_store(spark, sf_dir)
    cents, cells = _load_artifacts(root)
    if not cents or not cents[0] or not cells:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    encoded = incremental_live_index(spark, root)
    return _ivfpq_serve(
        spark, sf_dir, encoded, cents=cents, cells=cells, rebalance=True
    )


@register("ivfpq_compacted_served", oracle=_inc_serve_oracle())
def ivfpq_compacted_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D41 — serving after COMPACTION: the epoch segments rewritten as
    one tombstone-applied, one-file-per-cell segment (compact_store —
    the index twin of the manifest layer's OPTIMIZE). Compaction is
    pure data movement over frozen-encoded rows, so this shares D39's
    one-shot-rebuild oracle verbatim: a green hash row IS the proof
    that compaction changed layout, not content. At 100 TB this is
    the weekly job that keeps N daily appends from turning every hot
    cell into N small files."""
    root = ivfpq_compacted_store(spark, sf_dir)
    cents, cells = _load_artifacts(root)
    if not cents or not cents[0] or not cells:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    encoded = incremental_live_index(spark, root)
    return _ivfpq_serve(
        spark, sf_dir, encoded, cents=cents, cells=cells, rebalance=True
    )


@register("ann_index_segments", oracle=_inc_segments_oracle())
def ann_index_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D39b — incremental-store bookkeeping audit: per epoch segment,
    rows encoded, distinct cells touched, tombstoned and live counts,
    read FROM THE STORE and hash-checked against a from-scratch SQL
    derivation — segment content parity, the test_incremental_agg
    discipline for the index itself."""
    root = ivfpq_incremental_store(spark, sf_dir)
    cents, cells = _load_artifacts(root)
    if not cents or not cents[0] or not cells:
        return spark.createDataFrame(
            [],
            "epoch int, n_rows bigint, n_cells bigint, "
            "n_tombstoned bigint, n_live bigint",
        )
    seg = spark.read.parquet(os.path.join(root, "segments"))
    tomb = spark.read.parquet(os.path.join(root, "tombstones")).select(
        "vec_id", F.lit(1).alias("__t")
    )
    return (
        seg.join(F.broadcast(tomb), "vec_id", "left")
        .groupBy(F.col("epoch").cast("int").alias("epoch"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("cell_id").alias("n_cells"),
            F.coalesce(F.sum("__t"), F.lit(0)).alias("n_tombstoned"),
            (F.count(F.lit(1)) - F.coalesce(F.sum("__t"), F.lit(0))).alias(
                "n_live"
            ),
        )
        .orderBy("epoch")
    )


@register("inc_occupancy_drift", oracle=_inc_occupancy_oracle())
def inc_occupancy_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D43 — the RETRAIN TRIGGER dial: cumulative cell occupancy of
    the frozen day-0 quantizer as append epochs accumulate. The cells
    were sized √n for the BASE corpus; each append grows per-cell
    occupancy (and with it per-query probed-cell scan cost, since
    serving cost IS probed occupancy) without growing the cell count.
    Per cumulative epoch: live rows, cells used, max/avg occupancy,
    and the cells ≈ √n the sizing rule WOULD choose now — when
    occ_avg or occ_max runs far past n_live/cells_ideal, a re-split
    (retrain) pays for itself. Tombstones are applied at every epoch
    (the dial reports the CURRENT store's drift, not a replay).

    Counts come FROM THE STORE (segment scan + tombstone anti-join)
    and hash-check against a from-scratch SQL assignment — store
    content parity, again."""
    root = ivfpq_incremental_store(spark, sf_dir)
    cents, cells = _load_artifacts(root)
    if not cents or not cents[0] or not cells:
        return spark.createDataFrame(
            [],
            "epoch int, n_live bigint, cells_used bigint, "
            "occ_max bigint, occ_avg bigint, cells_ideal bigint",
        )
    seg = spark.read.parquet(os.path.join(root, "segments"))
    tomb = spark.read.parquet(os.path.join(root, "tombstones"))
    live = seg.join(F.broadcast(tomb), "vec_id", "anti").select(
        F.col("epoch").cast("int").alias("epoch"), "cell_id"
    )
    es = spark.range(_INC_WAVES).select(
        F.col("id").cast("int").alias("e")
    )
    counts = (
        F.broadcast(es)
        .join(live, live["epoch"] <= es["e"])
        .groupBy("e", "cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    k = len(cells)
    return (
        counts.groupBy(F.col("e").alias("epoch"))
        .agg(
            F.sum("n").alias("n_live"),
            F.count(F.lit(1)).alias("cells_used"),
            F.max("n").alias("occ_max"),
            F.expr(f"sum(n) div {k}").alias("occ_avg"),
            F.ceil(F.sqrt(F.sum("n").cast("double"))).alias(
                "cells_ideal"
            ),
        )
        .orderBy("epoch")
    )


@register("ann_staleness_recall", oracle=_inc_staleness_oracle())
def ann_staleness_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D40 — the APPEND-STALENESS dial: recall@10 of the incremental
    index (quantizers frozen at day 0, corpus grown by the appends)
    against exact L2 over the live corpus, self-excluded. Read
    alongside D28b ``ivfpq_recall`` (the same dial with artifacts
    retrained on the full corpus): the gap is what serving appends on
    stale centroids costs, and D34 ``centroid_drift`` prices when to
    pay the retrain that closes it."""
    root = ivfpq_incremental_store(spark, sf_dir)
    cents, cells = _load_artifacts(root)
    if not cents or not cents[0] or not cells:
        return spark.createDataFrame(
            [], "query_id bigint, n_hits bigint, recall_bp bigint"
        )
    cand = (
        ivfpq_incremental_served(spark, sf_dir)
        .select("query_id", "vec_id")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    emb_1t = _emb(spark, sf_dir)
    live_1t = emb_1t.where(
        ~(
            (F.col("vec_id") % _INC_WAVES == 0)
            & (F.col("vec_id") % _INC_TOMB_MOD == 0)
        )
    )
    qdf = emb_1t.where(F.col("vec_id") % _IVFPQ_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = _pq_exact_topk(live_1t, qdf=qdf, k=_IVFPQ_K, exclude_self=True)
    hits = (
        exact.join(cand, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = qdf.select("query_id")
    return probes.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_hits"),
        F.expr(f"coalesce(n, 0) * 10000 div {_IVFPQ_K}").alias(
            "recall_bp"
        ),
    )


def ivfpq_streamed_store(spark: SparkSession, sf_dir: str) -> str:
    """The D42b fixture: the SAME 3-wave corpus as the batch
    incremental store, but with the two append waves ingested through
    the Structured Streaming path (streaming/ann_ingest.py) instead
    of batch ``append_batch`` calls — day-0 base build + tombstones,
    then the waves written as ordered files into an incoming dir and
    drained by the foreachBatch stream (one file per micro-batch,
    epochs derived from the store). Stream ≡ batch is pinned in
    tests/test_ann_stream_ingest.py; registering the streamed store
    under D39's one-shot-rebuild oracle makes the driver hash row the
    cross-engine proof (VERDICT r9 follow-up #4). Serving is
    epoch-value-agnostic (the live index unions epoch segments), so
    the result does not depend on micro-batch boundaries."""
    import glob
    import shutil

    def build(root: str) -> None:
        emb = _emb(spark, sf_dir, fan_out="force")
        build_base_store(spark, sf_dir, _wave(emb, 0), root)
        cents, cells = _load_artifacts(root)
        if not (cents and cents[0] and cells):
            return
        tombstone_ids(
            spark,
            root,
            _wave(emb, 0).where(F.col("vec_id") % _INC_TOMB_MOD == 0),
        )
        in_dir = os.path.join(root, "_incoming")
        os.makedirs(in_dir, exist_ok=True)
        for w in range(1, _INC_WAVES):
            stage = os.path.join(root, f"_stage{w}")
            _wave(emb, w).coalesce(1).write.mode("overwrite").parquet(
                stage
            )
            parts = glob.glob(os.path.join(stage, "*.parquet"))
            if parts:
                shutil.move(
                    parts[0], os.path.join(in_dir, f"wave-{w}.parquet")
                )
            shutil.rmtree(stage, ignore_errors=True)
        if glob.glob(os.path.join(in_dir, "*.parquet")):
            from spotify_podcasts_airflow_batch_spark.streaming.ann_ingest import (  # noqa: E501 — runtime import breaks the module cycle
                stream_ann_ingest,
            )

            q = stream_ann_ingest(
                spark, in_dir, root, os.path.join(root, "_ckpt")
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    "ivfpq_streamed_store: ingest stream did not drain"
                )

    return store(
        "ivfpq_streamed", sf_dir, ("embeddings",), build,
        valid=_store_is_valid,
    )


@register(
    "ivfpq_retrained_served",
    oracle=_inc_serve_oracle(train_ctes=_retrain_ctes()),
)
def ivfpq_retrained_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D44 — serving AFTER RETRAIN + BLUE/GREEN CUTOVER: quantizers
    trained fresh on the live corpus (the retrain D34/D40/D43 price),
    the corpus re-encoded once into a NEW versioned store, and an
    atomic ``CURRENT`` pointer swap (``write_current_pointer`` —
    os.replace, reader sees old or new, never a mix; the old store
    stays for rollback). The oracle derives the SAME retrained
    artifacts end-to-end in SQL (both Lloyd chains re-pointed at the
    live corpus) and serves the one-shot build, so a green hash row
    proves retrain + re-encode + cutover ≡ training from scratch on
    what the store says is alive. At 100 TB this is the quarterly
    job: O(corpus) re-encode paid once, against the daily O(new)
    appends the frozen artifacts otherwise serve."""
    root = ivfpq_retrained_store(spark, sf_dir)
    cents, cells = _load_artifacts(root)
    if not cents or not cents[0] or not cells:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    encoded = incremental_live_index(spark, root)
    return _ivfpq_serve(
        spark, sf_dir, encoded, cents=cents, cells=cells, rebalance=True
    )


@register(
    "ivfpq_retrained_recall",
    oracle=_inc_staleness_oracle(
        serve_sql=_inc_serve_oracle(train_ctes=_retrain_ctes())
    ),
)
def ivfpq_retrained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D44b — the uplift dial for D44: recall@10 of the RETRAINED
    index against exact L2 over the live corpus, the exact formula of
    D40 ``ann_staleness_recall`` with the retrained candidates — read
    the two side by side to see what the retrain bought back of the
    staleness gap D40 prices (cells re-fit to the grown corpus, so
    probed cells once again cover the true neighborhoods)."""
    root = ivfpq_retrained_store(spark, sf_dir)
    cents, cells = _load_artifacts(root)
    if not cents or not cents[0] or not cells:
        return spark.createDataFrame(
            [], "query_id bigint, n_hits bigint, recall_bp bigint"
        )
    cand = (
        ivfpq_retrained_served(spark, sf_dir)
        .select("query_id", "vec_id")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    emb_1t = _emb(spark, sf_dir)
    live_1t = emb_1t.where(
        ~(
            (F.col("vec_id") % _INC_WAVES == 0)
            & (F.col("vec_id") % _INC_TOMB_MOD == 0)
        )
    )
    qdf = emb_1t.where(F.col("vec_id") % _IVFPQ_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = _pq_exact_topk(live_1t, qdf=qdf, k=_IVFPQ_K, exclude_self=True)
    hits = (
        exact.join(cand, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = qdf.select("query_id")
    return probes.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_hits"),
        F.expr(f"coalesce(n, 0) * 10000 div {_IVFPQ_K}").alias(
            "recall_bp"
        ),
    )


@register("ivfpq_streamed_served", oracle=_inc_serve_oracle())
def ivfpq_streamed_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D42b — the D42 streaming-ingest runtime promoted to a
    driver-hashed query (the B68 pattern): the same 3-wave corpus as
    D39, but the append waves arrive through the foreachBatch ingest
    stream (replay-idempotent epoch partitions, epoch base derived
    from the store). Shares D39's ONE-SHOT REBUILD oracle verbatim,
    so a green hash row is the cross-engine proof that streamed
    ingest ≡ batch appends ≡ full rebuild."""
    root = ivfpq_streamed_store(spark, sf_dir)
    cents, cells = _load_artifacts(root)
    if not cents or not cents[0] or not cells:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    encoded = incremental_live_index(spark, root)
    return _ivfpq_serve(
        spark, sf_dir, encoded, cents=cents, cells=cells, rebalance=True
    )
