"""Seeded input generator.

Writes the ten tables the query registry reads (one parquet file per table,
the layout and column types of the engine's sf0.001-sf0.1 test data) plus,
for ``etl_write``, a TSV copy of ``lineitem`` with mixed-case headers. The
values are uniform draws over the same domains as that test data, so every
query and its DuckDB oracle run unchanged; the same seed and scale give
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

#: TSV header for etl_write: mixed-case names that ``columns_to_snake_case``
#: turns into ``order_key, part_key, ...``.
TSV_COLUMNS = {
    "l_orderkey": "orderKey",
    "l_partkey": "PartKey",
    "l_suppkey": "suppKey",
    "l_linenumber": "LineNumber",
    "l_quantity": "quantity",
    "l_extendedprice": "ExtendedPrice",
    "l_discount": "discount",
    "l_tax": "Tax",
    "l_returnflag": "returnFlag",
    "l_linestatus": "LineStatus",
    "l_shipdate": "shipDate",
}

_DAY_US = 86_400_000_000


def _days(rng, n, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = max(150, round(150_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_part = max(200, round(200_000 * scale))
    n_ord = max(1_500, round(1_500_000 * scale))
    n_li = max(6_000, round(6_000_000 * scale))
    n_ev = max(1_000, round(1_000_000 * scale))
    n_docs = max(50, round(50_000 * scale))
    n_vec = max(500, round(20_000 * scale))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    pick = lambda vals, n: pa.array(np.asarray(vals)[rng.integers(0, len(vals), n)])  # noqa: E731

    out = {
        "region": pa.table({
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": i32([k % 5 for k in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(np.arange(n_cust)),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(np.arange(n_supp)),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": i64(np.arange(n_part)),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(_PTYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
            "l_partkey": i64(rng.integers(0, n_part, n_li)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
    }

    # events: ascending timestamps over January 2024, ~150 users per 10k events
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(15, n_ev * 3 // 200), n_ev)),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: random word streams; ~5% are an earlier document + " dup"
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            idx = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[j] for j in idx))
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(n_docs)),
        "text": texts,
        "lang": pa.array(np.asarray(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(t) for t in texts]),
    })

    # embeddings: unit vectors around 10 weak cluster directions
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = 0.15 * centers[labels] + rng.standard_normal((n_vec, 64)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_vec)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return out


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, pa.Table]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(np.random.default_rng(seed), scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


def write_lineitem_tsv(lineitem: pa.Table, path: str, seed: int) -> int:
    """Write ``lineitem`` in a seed-shuffled row order as one TSV file with
    the mixed-case ``TSV_COLUMNS`` header; returns its size in bytes."""
    order = np.random.default_rng(seed + 1).permutation(lineitem.num_rows)
    t = lineitem.take(pa.array(order))
    cols = {
        new: (pc.strftime(t[old], "%Y-%m-%d") if old == "l_shipdate" else t[old])
        for old, new in TSV_COLUMNS.items()
    }
    with open(path, "wb") as f:  # Arrow quotes header names, so write our own
        f.write(("\t".join(cols) + "\n").encode())
        pacsv.write_csv(
            pa.table(cols), f,
            pacsv.WriteOptions(include_header=False, delimiter="\t", quoting_style="none"),
        )
    return os.path.getsize(path)
