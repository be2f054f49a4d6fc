"""Output checks.

Registry ops: an order-insensitive digest of the op's rows, compared with
the digest of its DuckDB oracle over the same generated tables.  The
normalisation is the project's own (``tests/oracle_utils.py``), used
read-only, so the benchmark agrees with the correctness tests about what
"equal" means.

``medallion_ingest``: the KPI tables the pipeline leaves behind are
compared with a DuckDB replay of the same batch: the CSVs are parsed as
text, the gates (corrupt value, null key, orphan key) are applied in
SQL, the KPIs are recomputed, and folded into the KPI history with the
coalescing merge.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb


def digest(cols: list[str], rows: list[tuple]) -> str:
    from tests.oracle_utils import normalize

    names, norm = normalize(cols, rows)
    return hashlib.sha256(repr((names, norm)).encode()).hexdigest()


def registry_digest(sql: str, sf_dir: str) -> str:
    from tests.oracle_utils import run_oracle

    cols, rows = run_oracle(sql, sf_dir)
    return digest(cols, rows)


# ---------------------------------------------------------------- ingest

_TYPES = {
    "orders": {
        "order_id": "BIGINT", "user_id": "BIGINT", "created_at": "TIMESTAMP",
        "returned_at": "TIMESTAMP", "shipped_at": "TIMESTAMP",
        "delivered_at": "TIMESTAMP", "num_of_item": "INTEGER",
    },
    "order_items": {
        "id": "BIGINT", "order_id": "BIGINT", "user_id": "BIGINT",
        "product_id": "BIGINT", "created_at": "TIMESTAMP",
        "shipped_at": "TIMESTAMP", "delivered_at": "TIMESTAMP",
        "returned_at": "TIMESTAMP", "sale_price": "DECIMAL(12,2)",
    },
    "products": {
        "id": "BIGINT", "cost": "DECIMAL(12,2)", "retail_price": "DECIMAL(12,2)",
    },
}
_REQUIRED = {
    "orders": ["order_id", "user_id", "created_at"],
    "order_items": ["id", "order_id", "product_id", "created_at"],
    "products": ["id", "sku", "cost"],
}
_STRINGS = {
    "orders": ["status"],
    "order_items": ["status"],
    "products": ["sku", "category", "name", "brand", "department"],
}


def _gated(con, entity: str, path: str) -> None:
    """Create ``b_<entity>``: the rows of one CSV that pass the corrupt
    and null gates, typed."""
    types = _TYPES[entity]
    corrupt = " OR ".join(
        f"({c} IS NOT NULL AND TRY_CAST({c} AS {t}) IS NULL)"
        for c, t in types.items()
    )
    cols = [f"TRY_CAST({c} AS {t}) AS {c}" for c, t in types.items()]
    cols += _STRINGS[entity]
    nulls = " AND ".join(f"{c} IS NOT NULL" for c in _REQUIRED[entity])
    con.execute(
        f"""CREATE OR REPLACE TABLE b_{entity} AS
        SELECT * FROM (
          SELECT {", ".join(cols)} FROM read_csv('{path}', header=true,
            all_varchar=true)
          WHERE NOT ({corrupt})
        ) WHERE {nulls}"""
    )


def _avg(total: Decimal, n: int) -> Decimal:
    return (total / Decimal(n)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _fold(table: dict, row: dict, keys: tuple[str, ...]) -> None:
    """The coalescing merge of one source row: a matched key takes the
    source's non-null values and the union of both provenance lists."""
    key = tuple(row[k] for k in keys)
    old = table.get(key)
    if old is not None:
        row = {c: old[c] if v is None else v for c, v in row.items()}
        row["data_sources"] = sorted(set(old["data_sources"]) | set(row["data_sources"]))
    table[key] = row


def ingest_expected(paths: dict[str, str], history: str) -> tuple[list, list]:
    """Expected (category KPI rows, order KPI rows) after ingesting the
    batch ``paths`` (entity -> CSV path) into empty zones whose KPI
    tables start as the parquet tables under ``history``.  Rows are
    dicts keyed by the serving tables' column names."""
    cat = {}
    for r in read_table_rows(os.path.join(history, "category")):
        _fold(cat, r, ("category", "order_date"))
    okpi = {}
    for r in read_table_rows(os.path.join(history, "order")):
        _fold(okpi, r, ("order_date",))
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for entity, path in paths.items():
        _gated(con, entity, path)
    # referential gates, in the pipeline's FK order
    con.execute(
        "DELETE FROM b_order_items WHERE order_id NOT IN "
        "(SELECT order_id FROM b_orders)"
    )
    con.execute(
        "DELETE FROM b_order_items WHERE product_id NOT IN "
        "(SELECT id FROM b_products)"
    )
    for category, day, rev, n_price, n, n_ret in con.execute(
        """SELECT p.category, CAST(oi.created_at AS DATE),
             SUM(oi.sale_price), COUNT(oi.sale_price), COUNT(*),
             COUNT(*) FILTER (WHERE oi.status = 'returned')
           FROM b_order_items oi JOIN b_products p ON oi.product_id = p.id
           WHERE p.category IS NOT NULL GROUP BY 1, 2"""
    ).fetchall():
        _fold(cat, {
            "category": category,
            "order_date": day,
            "daily_revenue": rev,
            "avg_order_value": _avg(rev, n_price) if n_price else None,
            "avg_return_rate": n_ret / n,
            "data_sources": ["order_items"],
        }, ("category", "order_date"))
    for day, n_orders, rev, n_items, n_ret, n_users in con.execute(
        """SELECT CAST(o.created_at AS DATE), COUNT(DISTINCT o.order_id),
             SUM(oi.sale_price), COUNT(oi.id),
             COUNT(*) FILTER (WHERE oi.status = 'returned'),
             COUNT(DISTINCT o.user_id)
           FROM b_orders o JOIN b_order_items oi ON o.order_id = oi.order_id
           GROUP BY 1"""
    ).fetchall():
        _fold(okpi, {
            "order_date": day,
            "total_orders": n_orders,
            "total_revenue": rev,
            "total_items_sold": n_items,
            "return_rate": n_ret / n_items if n_items else None,
            "unique_customers": n_users,
            "data_sources": ["order_items", "orders"],
        }, ("order_date",))
    con.close()
    return list(cat.values()), list(okpi.values())


def _rows_digest(rows: list[dict]) -> str:
    cols = sorted(rows[0])
    return digest(cols, [tuple(r[c] for c in cols) for r in rows])


def read_table_rows(path: str) -> list[dict]:
    con = duckdb.connect()
    try:
        rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        cols = [d[0] for d in rel.description]
        return [dict(zip(cols, r)) for r in rel.fetchall()]
    finally:
        con.close()


def check_ingest(zones: str, paths: dict[str, str], history: str) -> list[str]:
    """Names of the KPI tables under ``zones`` that differ from the
    replay (empty when both match)."""
    want_cat, want_order = ingest_expected(paths, history)
    bad = []
    for name, want in (("category", want_cat), ("order", want_order)):
        path = os.path.join(zones, "kpis", name)
        got = read_table_rows(path) if os.path.isdir(path) else []
        for r in got:
            if isinstance(r.get("order_date"), dt.datetime):
                r["order_date"] = r["order_date"].date()
        if not got or not want or _rows_digest(got) != _rows_digest(want):
            bad.append(name)
    return bad
