"""Output checks: every output the benchmark times is compared with an
independent DuckDB computation over the same input files.

* Registered queries: the result must match ``oracle_sql()[name]`` on
  row count, column names and the order-insensitive value hash of
  ``scripts/check_oracle.py`` (the rule the repository's correctness
  gate uses).
* KPI tables: ``category_kpi`` / ``order_kpi`` as written by the sinks
  must hash-equal a DuckDB mirror built from the raw CSV zone with the
  reference's Task-1 validation rules and the engine's deterministic
  rounding (``queries.round_sql`` / ``queries.moneysum_sql``).

The checks run in a child process (``query_problems`` and
``kpi_problems`` are its entry points), so DuckDB and its frames never
count in the measured client's memory. This module imports DuckDB and
pandas only when a check runs.
"""

from __future__ import annotations

import functools
import importlib.util
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


@functools.cache
def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(_REPO, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(got, want) -> str | None:
    """None when equal under the gate's rule, else the first difference."""
    value_hash = _load_check_oracle().value_hash
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    hg, hw = value_hash(got), value_hash(want)
    if hg != hw:
        return f"value hash {hg} != {hw}"
    return None


class QueryOracle:
    """DuckDB views over one parquet table directory + the registry's
    oracle SQL."""

    def __init__(self, data_dir: str, oracles: dict[str, str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TESTDATA_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        self.oracles = oracles

    def check(self, name: str, got) -> str | None:
        return compare(got, self.con.execute(self.oracles[name]).df())

    def close(self) -> None:
        self.con.close()


def query_problems(
    data_dir: str, oracles: dict[str, str], results: dict
) -> dict[str, str | None]:
    """Each collected query result (a pandas frame) against its oracle."""
    oracle = QueryOracle(data_dir, oracles)
    try:
        return {name: oracle.check(name, got) for name, got in results.items()}
    finally:
        oracle.close()


# --- KPI mirror ------------------------------------------------------------

_ORDER_TYPES = {
    "order_id": "BIGINT", "user_id": "BIGINT", "status": "VARCHAR",
    "created_at": "TIMESTAMP", "returned_at": "TIMESTAMP",
    "shipped_at": "TIMESTAMP", "delivered_at": "TIMESTAMP",
    "num_of_item": "BIGINT",
}
_ITEM_TYPES = {
    "id": "BIGINT", "order_id": "BIGINT", "user_id": "BIGINT",
    "product_id": "BIGINT", "status": "VARCHAR", "created_at": "TIMESTAMP",
    "shipped_at": "TIMESTAMP", "delivered_at": "TIMESTAMP",
    "returned_at": "TIMESTAMP", "sale_price": "DOUBLE",
}
_PRODUCT_TYPES = {
    "id": "BIGINT", "sku": "VARCHAR", "cost": "DOUBLE", "category": "VARCHAR",
    "name": "VARCHAR", "brand": "VARCHAR", "retail_price": "DOUBLE",
    "department": "VARCHAR",
}


def _csv_sql(path: str, types: dict[str, str]) -> str:
    cols = ", ".join(f"'{k}': '{v}'" for k, v in types.items())
    # no dialect sniffing: it would cost a fraction of a second per file
    return (
        f"read_csv('{path}', header=true, auto_detect=false, delim=',', "
        f"columns={{{cols}}})"
    )


def kpi_mirror_sql(raw_dir: str) -> dict[str, str]:
    """DuckDB SQL for both KPI tables over a raw zone: Task 1 (null
    drops, positive price, order-existence semi-join) then the
    reference's Task-2 aggregates, written directly at the day grain."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        moneysum_sql,
        round_sql,
    )

    orders = _csv_sql(os.path.join(raw_dir, "orders", "*.csv"), _ORDER_TYPES)
    items = _csv_sql(os.path.join(raw_dir, "order_items", "*.csv"), _ITEM_TYPES)
    products = _csv_sql(os.path.join(raw_dir, "products.csv"), _PRODUCT_TYPES)
    fact = f"""
        WITH o AS (
            SELECT order_id, CAST(created_at AS DATE) AS order_date,
                   returned_at IS NOT NULL AS is_returned
            FROM {orders}
            WHERE order_id IS NOT NULL AND user_id IS NOT NULL
              AND created_at IS NOT NULL
        ),
        i AS (
            SELECT * FROM {items}
            WHERE id IS NOT NULL AND product_id IS NOT NULL
              AND sale_price IS NOT NULL AND sale_price > 0
              AND order_id IN (SELECT order_id FROM o)
        ),
        fact AS (
            SELECT i.id, i.order_id, i.user_id, i.sale_price,
                   o.order_date, o.is_returned, p.category
            FROM i JOIN o USING (order_id)
            LEFT JOIN {products} p ON i.product_id = p.id
        )"""
    # money sums are exact decimal sums, so summing straight to the
    # day grain equals the engine's per-order pre-aggregation bit for bit
    category = f"""{fact},
        agg AS (
            SELECT category, order_date, {moneysum_sql("sale_price")} AS rev,
                   COUNT(DISTINCT order_id) AS orders,
                   SUM(CAST(is_returned AS BIGINT)) AS returns
            FROM fact WHERE category IS NOT NULL
            GROUP BY category, order_date
        )
        SELECT category, CAST(order_date AS VARCHAR) AS order_date,
               {round_sql("rev")} AS daily_revenue,
               {round_sql("rev / CAST(orders AS DOUBLE)")} AS avg_order_value,
               {round_sql("CAST(returns AS DOUBLE) / CAST(orders AS DOUBLE)", 4)}
                   * 100 AS avg_return_rate
        FROM agg"""
    order = f"""{fact},
        agg AS (
            SELECT order_date, COUNT(DISTINCT order_id) AS total_orders,
                   {moneysum_sql("sale_price")} AS rev,
                   COUNT(id) AS total_items_sold,
                   SUM(CAST(is_returned AS BIGINT)) AS returns,
                   COUNT(*) AS items,
                   COUNT(DISTINCT user_id) AS unique_customers
            FROM fact GROUP BY order_date
        )
        SELECT CAST(order_date AS VARCHAR) AS order_date, total_orders,
               {round_sql("rev")} AS total_revenue, total_items_sold,
               {round_sql("CAST(returns AS DOUBLE) / CAST(items AS DOUBLE)", 4)}
                   * 100 AS return_rate,
               unique_customers
        FROM agg"""
    return {"category_kpi": category, "order_kpi": order}


def read_kpi_table(path: str):
    """A sink's table as written: parquet files under ``order_date=``
    partition directories; the key comes back as an ISO string."""
    import duckdb

    con = duckdb.connect()
    try:
        df = con.execute(
            "SELECT * FROM read_parquet(?, hive_partitioning=true, "
            "hive_types={'order_date': VARCHAR})",
            [os.path.join(path, "*", "*.parquet")],
        ).df()
    finally:
        con.close()
    return _canonical(df)


def _canonical(df):
    """Counts as int64 on both sides (DuckDB sums of BIGINT are
    HUGEINT → float in pandas; Spark writes LONG)."""
    for c in df.columns:
        if c.startswith(("total_orders", "total_items", "unique_")):
            df[c] = df[c].astype("int64")
    return df


def kpi_mirror(raw_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        return {
            name: _canonical(con.execute(sql).df())
            for name, sql in kpi_mirror_sql(raw_dir).items()
        }
    finally:
        con.close()


def kpi_problems(
    raw_dir: str, stream_out: str, batch_out: str | None = None
) -> list[tuple[str, str | None]]:
    """The stream's KPI tables against the DuckDB mirror of ``raw_dir``;
    with ``batch_out``, also stream = batch and batch = mirror."""
    want = kpi_mirror(raw_dir)
    stream = {name: read_kpi_table(os.path.join(stream_out, name)) for name in want}
    out = [(f"stream_vs_mirror.{n}", compare(df, want[n])) for n, df in stream.items()]
    if batch_out is None:
        return out
    for name, df in stream.items():
        batch = read_kpi_table(os.path.join(batch_out, name))
        out.append((f"stream_vs_batch.{name}", compare(df, batch)))
        out.append((f"batch_vs_mirror.{name}", compare(batch, want[name])))
    return out
