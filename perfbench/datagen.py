"""Seeded input generator for the benchmark.

Two products, both pure functions of ``(seed, sf)``:

- :func:`write_tables` writes the ten analytics tables the query registry
  reads (``region`` ... ``embeddings``), one parquet file each, in the
  same schema and value domains as the project's TPC-H-like test data.
  Table sizes depend on ``sf`` only; the seed moves values, never sizes,
  so every seed asks the program for the same amount of work.
- :func:`write_medallion_batch` derives a raw CSV batch in the
  reference's three-entity schema (orders, order_items, products) from
  the generated ``orders``/``lineitem``/``part`` tables, with seeded
  defects that make every quarantine branch fire, and the KPI history
  the batch merges into; :func:`arrival_events` gives the batch's
  file-arrival events, which feed the debounce stage.

The same seed gives byte-identical files (no timestamps, no hash-order
dependence), which ``tests/test_perfbench.py`` checks.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a the data spark table query join group order line part customer key "
    "value row column filter scan sort merge hash batch stream window agg "
    "vector small big fast slow"
).split()
EMBED_DIM = 64
N_LABELS = 10

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2498
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table; the TPC-H ratios, with floors so that tiny
    scales still give every operator something to chew on."""
    def n(base: float, floor: int) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 150),
        "supplier": n(10_000, 10),
        "part": n(200_000, 200),
        "orders": n(1_500_000, 1_500),
        "lineitem": n(6_000_000, 6_000),
        "events": n(1_000_000, 1_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
        "users": n(15_000, 20),
    }


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _day_ts(day0, days: np.ndarray) -> np.ndarray:
    return (day0 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    words = np.array(WORDS)
    texts = []
    for _ in range(n):
        texts.append(" ".join(words[rng.integers(0, len(WORDS), rng.integers(8, 97))]))
    # ~1% exact and ~3% near duplicates of earlier documents, so the
    # dedup family has true positives to find.
    for i in range(1, n):
        u = rng.random()
        if u < 0.01:
            texts[i] = texts[rng.integers(0, i)]
        elif u < 0.04:
            toks = texts[rng.integers(0, i)].split()
            j = rng.integers(0, len(toks))
            toks[j] = WORDS[rng.integers(0, len(WORDS))]
            texts[i] = " ".join(toks)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict:
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables for ``seed`` at scale ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    size = table_sizes(sf)
    nc, ns, npart = size["customer"], size["supplier"], size["part"]
    no, nl, ne = size["orders"], size["lineitem"], size["events"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(ORDER_STATUS)[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_day_ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS, no))),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_day_ts(SHIP_DAY0, rng.integers(0, SHIP_DAYS, nl))),
    })
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(EVENT_T0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, size["users"], ne).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    _write(out_dir, "documents", _documents(rng, size["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, size["embeddings"]))
    return {t: size[t] for t in TABLES}


# ---------------------------------------------------------------------
# Medallion ingest batches

ORDER_HEADER = [
    "order_id", "user_id", "status", "created_at", "returned_at",
    "shipped_at", "delivered_at", "num_of_item",
]
ITEM_HEADER = [
    "id", "order_id", "user_id", "product_id", "status", "created_at",
    "shipped_at", "delivered_at", "returned_at", "sale_price",
]
PRODUCT_HEADER = [
    "id", "sku", "cost", "category", "name", "brand", "retail_price",
    "department",
]
STATUS_BY_FLAG = {"F": "delivered", "O": "shipped", "P": "processing"}
ORPHAN_OFFSET = 1_000_000_000
DEPARTMENTS = ["home", "garden", "tools"]

# Traffic of the medallion_ingest batch.  The reference processes one
# day's files per run (one ``processing_date``, SURVEY.md section 2, S5);
# FIXTURES.md section 6 sizes a batch at 1-10k orders over 2-3
# ``created_at`` dates, 3-5 items per order, and 100-500 products in
# 10-20 categories, one of them null.  So the batch is one order day of
# BATCH_ORDERS orders (about 4 items each) whose late rows fall on the
# two days before it: 3 dt partitions.  The serving KPI tables already
# hold HISTORY_DAYS days up to the day before the batch, so the late
# rows update published KPIs and the batch's own day is inserted.  The
# history length, the late share and the defect shares have no source
# in the reference or the repo: they are illustrative.  Each share is a
# fixed row count, so every quarantine branch fires and every seed asks
# for the same work.
BATCH_ORDERS = 1_000
BATCH_PRODUCTS = 500
HISTORY_DAYS = 90
LATE_SHARE = 0.05
NULL_SHARE = 0.01
ORPHAN_SHARE = 0.01
MALFORMED_SHARE = 0.005
ENTITIES = ("orders", "order_items", "products")


def _fmt_ts(t: np.datetime64) -> str:
    return str(t.astype("datetime64[s]")).replace("T", " ")


def _count(share: float, n: int) -> int:
    return max(1, int(round(share * n)))


def batch_files(out_dir: str) -> dict[str, str]:
    """Entity -> CSV path of the batch."""
    return {e: os.path.join(out_dir, f"{e}.csv") for e in ENTITIES}


def arrival_events(out_dir: str) -> list[tuple[dt.datetime, str, str]]:
    """File-arrival events (event_ts, group_key, file_path) of the
    batch: its three files 5 s apart, one debounce window."""
    t0 = dt.datetime(2024, 6, 1)
    return [
        (t0 + dt.timedelta(seconds=5 * k), "shop", path)
        for k, path in enumerate(batch_files(out_dir).values())
    ]


def _kpi_history(rng, out_dir: str, last_day: np.datetime64, categories: list[str]) -> None:
    """Serving KPI tables of HISTORY_DAYS days ending at ``last_day``,
    one parquet file each, in the types the pipeline writes."""
    days = [(last_day - np.timedelta64(k, "D")).astype(dt.date)
            for k in range(HISTORY_DAYS)]

    def money(lo, hi, n, places):
        q = Decimal(1).scaleb(-places)
        return [Decimal(str(x)).quantize(q) for x in np.round(rng.uniform(lo, hi, n), places)]

    n = len(days) * len(categories)
    cat = {
        "category": pa.array([c for _ in days for c in categories]),
        "order_date": pa.array([d for d in days for _ in categories], pa.date32()),
        "daily_revenue": pa.array(money(100.0, 20000.0, n, 2), pa.decimal128(22, 2)),
        "avg_order_value": pa.array(money(5.0, 500.0, n, 6), pa.decimal128(16, 6)),
        "avg_return_rate": pa.array(rng.uniform(0.0, 0.5, n)),
        "data_sources": pa.array([["order_items"]] * n, pa.list_(pa.string())),
    }
    n = len(days)
    order = {
        "order_date": pa.array(days, pa.date32()),
        "total_orders": pa.array(rng.integers(500, 1500, n)),
        "total_revenue": pa.array(money(1e5, 5e5, n, 2), pa.decimal128(22, 2)),
        "total_items_sold": pa.array(rng.integers(2000, 6000, n)),
        "return_rate": pa.array(rng.uniform(0.0, 0.5, n)),
        "unique_customers": pa.array(rng.integers(400, 1500, n)),
        "data_sources": pa.array([["order_items", "orders"]] * n, pa.list_(pa.string())),
    }
    for name, cols in (("category", cat), ("order", order)):
        os.makedirs(os.path.join(out_dir, name))
        pq.write_table(pa.table(cols), os.path.join(out_dir, name, "part-0.parquet"))


def write_medallion_batch(tables_dir: str, out_dir: str, seed: int) -> None:
    """Write the raw CSV batch in the reference's three-entity schema,
    derived from the generated orders, lineitem and part tables, and the
    KPI history under ``out_dir/kpis``.

    The batch holds BATCH_ORDERS orders of one day, except for
    LATE_SHARE of them dated one or two days earlier, all their line
    items, and the product list.  Defects per entity: null required
    keys, unparseable values, and (order_items) orphan order or product
    keys.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    orders = pq.read_table(os.path.join(tables_dir, "orders.parquet")).to_pydict()
    items = pq.read_table(os.path.join(tables_dir, "lineitem.parquet")).to_pydict()
    parts = pq.read_table(os.path.join(tables_dir, "part.parquet")).to_pydict()

    n_orders = len(orders["o_orderkey"])
    drawn = rng.permutation(n_orders)[:min(BATCH_ORDERS, n_orders)]
    items_by_order: dict[int, list[int]] = {}
    for idx, ok in enumerate(items["l_orderkey"]):
        items_by_order.setdefault(ok, []).append(idx)

    n_products = min(BATCH_PRODUCTS, len(parts["p_partkey"]))
    dept = [DEPARTMENTS[parts["p_size"][i] % 3] for i in range(n_products)]
    products = [
        [
            i, f"SKU{i:07d}", f"{parts['p_retailprice'][i] * 0.55:.2f}",
            f"{dept[i]}/{parts['p_type'][i]}", parts["p_name"][i], parts["p_brand"][i],
            f"{parts['p_retailprice'][i]:.2f}", dept[i],
        ]
        for i in range(n_products)
    ]
    products[0][3] = ""  # the null category the KPI sink skips

    def defect(rows, null_col, bad_col, bad_value, orphan_cols=()):
        n = len(rows)
        k_null, k_bad = _count(NULL_SHARE, n), _count(MALFORMED_SHARE, n)
        k_orphan = _count(ORPHAN_SHARE, n) if orphan_cols else 0
        pick = rng.permutation(n)
        for i in pick[:k_null]:
            rows[i][null_col] = ""
        for i in pick[k_null:k_null + k_bad]:
            rows[i][bad_col] = bad_value
        for j, i in enumerate(pick[k_null + k_bad:k_null + k_bad + k_orphan]):
            c = orphan_cols[j % len(orphan_cols)]
            rows[i][c] = int(rows[i][c]) + ORPHAN_OFFSET
        return rows

    day = ORDER_DAY0 + np.timedelta64(int(rng.integers(HISTORY_DAYS, ORDER_DAYS)), "D")
    # the first orders drawn are late: one or two days old
    lag = np.zeros(len(drawn), dtype=np.int64)
    n_late = _count(LATE_SHARE, len(drawn))
    lag[:n_late] = 1 + np.arange(n_late) % 2
    secs = rng.integers(0, 86_400, len(drawn))
    b_orders, b_items = [], []
    for ok, d, s in zip(drawn, lag, secs):
        ts = (day - np.timedelta64(int(d), "D")).astype("datetime64[s]") \
            + np.timedelta64(int(s), "s")
        flag = orders["o_orderstatus"][ok]
        shipped = _fmt_ts(ts + np.timedelta64(int(rng.integers(1, 72)), "h"))
        lines = items_by_order.get(int(ok), [])
        b_orders.append([
            int(ok), orders["o_custkey"][ok], STATUS_BY_FLAG[flag], _fmt_ts(ts),
            "", shipped if flag != "P" else "",
            _fmt_ts(ts + np.timedelta64(5, "D")) if flag == "F" else "",
            len(lines),
        ])
        for li in lines:
            returned = items["l_returnflag"][li] == "R"
            qty = items["l_quantity"][li]
            b_items.append([
                li, int(ok), orders["o_custkey"][ok], items["l_partkey"][li] % n_products,
                "returned" if returned else "complete", _fmt_ts(ts), shipped, "",
                _fmt_ts(ts + np.timedelta64(20, "D")) if returned else "",
                f"{items['l_extendedprice'][li] / qty:.2f}",
            ])
    rows = {
        "orders": defect(b_orders, 1, 3, "not-a-date"),
        "order_items": defect(b_items, 3, 9, "12..5", orphan_cols=(1, 3)),
        "products": defect(products, 1, 2, "n/a"),
    }
    header = {"orders": ORDER_HEADER, "order_items": ITEM_HEADER,
              "products": PRODUCT_HEADER}
    for entity, path in batch_files(out_dir).items():
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header[entity])
            w.writerows(rows[entity])
    categories = sorted({p[3] for p in products if p[3]})
    _kpi_history(rng, os.path.join(out_dir, "kpis"), day - np.timedelta64(1, "D"), categories)
