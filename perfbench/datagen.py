"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet files. The schemas and value
distributions mirror the repository's synthetic TPC-H-ish star schema
plus its ``events``, ``documents`` and ``embeddings`` tables, so every
registry query and both pipelines run on the generated inputs
unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("hot", "large", "small", "cold", "red", "blue", "green", "dark")
PART_NOUN = ("bolt", "ring", "nut", "screw", "gear", "pipe", "valve", "spring")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
EMBED_DIMS = 64


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated dataset. ``scale(0.1)`` matches the
    repository's sf0.1 tables. Events draw ``user_id`` from the first
    tenth of the customers, as in sf0.1."""

    customers: int
    events: int
    event_days: int
    orders: int
    lineitems: int
    parts: int
    suppliers: int
    documents: int
    embeddings: int

    @staticmethod
    def scale(sf: float, events_sf: float | None = None) -> "Sizes":
        e = events_sf if events_sf is not None else sf
        return Sizes(
            customers=int(150_000 * e),
            events=int(1_000_000 * e),
            event_days=30,
            orders=int(1_500_000 * sf),
            lineitems=int(6_000_000 * sf),
            parts=int(200_000 * sf),
            suppliers=int(10_000 * sf),
            documents=int(50_000 * sf),
            embeddings=int(20_000 * sf),
        )


def _write(tbl: pa.Table, path: str) -> None:
    # one row group per file, like the repository's inputs
    pq.write_table(tbl, path, row_group_size=max(tbl.num_rows, 1))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def events_table(rng: np.random.Generator, n: int, days: int, users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, days * DAY_US, n)) + EVENTS_START_US
    # right-skewed scores on a 0.01 grid with a thin tail, like sf0.1
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        }
    )


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.array(VOCAB)
    lens = rng.integers(8, 96, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos : pos + k]))
        pos += k
    return out


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    text = _doc_texts(rng, n)
    # a few exact and near duplicates, so dedup queries have work
    for i in rng.choice(n, max(n // 200, 1), replace=False):
        j = int(rng.integers(0, n))
        text[i] = text[j] if rng.random() < 0.5 else text[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIMS)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel()), EMBED_DIMS
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _dates(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((d1 - d0).astype(int)) + 1, n)
    return pa.array((d0 + days).astype("datetime64[us]"), type=pa.timestamp("us"))


def write_star(out_dir: str, seed: int, sizes: Sizes) -> None:
    """All ten tables the registry queries read."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])

    def p(name: str) -> str:
        return os.path.join(out_dir, f"{name}.parquet")

    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        p("region"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        p("nation"),
    )
    _write(customer_table(rng, sizes.customers), p("customer"))
    ns = sizes.suppliers
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        p("supplier"),
    )
    npart = sizes.parts
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, npart), rng.integers(0, 8, npart)
                    )
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
                "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
                "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
                "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0),
            }
        ),
        p("part"),
    )
    no = sizes.orders
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(
                    rng.integers(0, sizes.customers, no, dtype=np.int64)
                ),
                "o_orderstatus": pa.array(
                    np.array(["F", "O", "P"])[rng.choice(3, no, p=(0.49, 0.49, 0.02))]
                ),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
                "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", no),
                "o_orderpriority": pa.array(
                    np.array(PRIORITIES)[rng.integers(0, 5, no)]
                ),
            }
        ),
        p("orders"),
    )
    nl = sizes.lineitems
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 100000.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
                "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", nl),
            }
        ),
        p("lineitem"),
    )
    users = max(sizes.customers // 10, 1)
    _write(events_table(rng, sizes.events, sizes.event_days, users), p("events"))
    _write(documents_table(rng, sizes.documents), p("documents"))
    _write(embeddings_table(rng, sizes.embeddings), p("embeddings"))


def write_podcast_inputs(out_dir: str, seed: int, sizes: Sizes) -> None:
    """The two tables ``PodcastPipeline`` reads: events and customer."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    _write(customer_table(rng, sizes.customers), os.path.join(out_dir, "customer.parquet"))
    users = max(sizes.customers // 10, 1)
    _write(
        events_table(rng, sizes.events, sizes.event_days, users),
        os.path.join(out_dir, "events.parquet"),
    )


def write_corpus_inputs(
    out_dir: str, seed: int, n_docs: int, near_dup_share: float
) -> dict[int, int]:
    """``n_docs`` documents plus near-duplicate replicas of a seeded
    ``near_dup_share`` of them. A replica is its original with one
    appended token, which defeats exact dedup while keeping shingle
    Jaccard well above the pipeline's 0.8 threshold. Returns
    {replica doc_id: original doc_id}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    base = documents_table(rng, n_docs)
    picks = np.sort(rng.choice(n_docs, int(n_docs * near_dup_share), replace=False))
    rep_ids = np.arange(n_docs, n_docs + len(picks), dtype=np.int64)
    reps = base.take(pa.array(picks))
    texts = [f"{t} replica{k}" for k, t in enumerate(reps.column("text").to_pylist())]
    reps = reps.set_column(0, "doc_id", pa.array(rep_ids))
    reps = reps.set_column(1, "text", pa.array(texts))
    reps = reps.set_column(
        4, "n_chars", pa.array(np.array([len(t) for t in texts], dtype=np.int64))
    )
    _write(pa.concat_tables([base, reps]), os.path.join(out_dir, "documents.parquet"))
    return dict(zip(rep_ids.tolist(), picks.tolist()))
