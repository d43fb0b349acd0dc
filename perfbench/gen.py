"""Seeded input generators for the benchmark.

Two input families, both made only from ``--seed`` (the program under
test receives files, never the seed):

* the reference-shaped raw zone for the KPI pipeline — ``products.csv``
  plus one orders file and one order-items file per day, and a
  late-items file for every day that has late arrivals. The streaming
  workload receives the files as day-by-day uploads
  (:func:`upload_schedule`);
* TPC-H-ish parquet tables in the layout ``sources.readers.
  load_testdata`` reads, for the registered-query mix.

Generated trees are cached on disk by (kind, seed, size) so the
benchmark's set-up time measures the program, not the generator.

Planted shares (of the rows of each file family; every one of them is
dropped or nulled by the reference's Task-1 rules, so a KPI mirror that
ignores them would fail its hash check):

* ``ORDER_NULL_SHARE`` of orders have one required field null
  (``order_id``, ``user_id`` or ``created_at``);
* ``ITEM_NULL_SHARE`` of items have one required field null
  (``id``, ``product_id`` or ``sale_price``);
* ``ITEM_BAD_PRICE_SHARE`` of items have a sale price ``<= 0``;
* ``ITEM_ORPHAN_SHARE`` of items reference an order that never exists;
* ``ITEM_DANGLING_PRODUCT_SHARE`` of items reference a product that
  does not exist (kept by validation, null category in the KPIs);
* ``LATE_ITEM_SHARE`` of items arrive 1-3 uploads after their order.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

ORDER_NULL_SHARE = 0.01
ITEM_NULL_SHARE = 0.01
ITEM_BAD_PRICE_SHARE = 0.01
ITEM_ORPHAN_SHARE = 0.01
ITEM_DANGLING_PRODUCT_SHARE = 0.005
LATE_ITEM_SHARE = 0.05

CATEGORIES = (
    "Beauty", "Books", "Clothing", "Electronics", "Home & Kitchen", "Sports", "Toys",
)
DEPARTMENTS = ("Women", "Men", "Kids", "Home", "Outdoor", "Office", "Garden")
START_DAY = np.datetime64("2024-01-01T00:00:00")

#: cached trees kept per cache root; older ones are evicted
CACHE_KEEP = 6

_ORDER_COLS = (
    "order_id", "user_id", "status", "created_at", "returned_at",
    "shipped_at", "delivered_at", "num_of_item",
)
_ITEM_COLS = (
    "id", "order_id", "user_id", "product_id", "status", "created_at",
    "shipped_at", "delivered_at", "returned_at", "sale_price",
)


def cached(root: str, key: str, build) -> str:
    """Return ``root/key``, building it with ``build(tmp_dir)`` first if
    absent. The build lands in a temp dir renamed into place, so a run
    cut mid-build never leaves a half tree that a later run would use."""
    dest = os.path.join(root, key)
    if os.path.isdir(dest):
        os.utime(dest)
        return dest
    os.makedirs(root, exist_ok=True)
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, dest)
    entries = sorted(
        (os.path.join(root, e) for e in os.listdir(root) if ".tmp" not in e),
        key=os.path.getmtime,
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return dest


# --- reference-shaped raw zone ------------------------------------------


def _ts(base: np.ndarray, secs: np.ndarray) -> np.ndarray:
    """ISO ``yyyy-MM-ddTHH:mm:ss`` strings (the reference's format)."""
    return np.datetime_as_string(
        base + secs.astype("timedelta64[s]"), unit="s"
    ).astype(object)


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _csv(path: str, cols: tuple[str, ...], data: dict, rows: np.ndarray) -> None:
    """Write ``rows`` of the column arrays in ``data`` as a headed CSV;
    ``None`` / NaN cells become empty fields (read back as null)."""
    out = [",".join(cols)]
    columns = [data[c][rows] for c in cols]
    for i in range(len(rows)):
        cells = []
        for col in columns:
            v = col[i]
            if v is None or (isinstance(v, float) and v != v):
                cells.append("")
            elif isinstance(v, (float, np.floating)):
                cells.append(repr(float(v)))
            else:
                cells.append(str(v))
        out.append(",".join(cells))
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(out) + "\n")


def build_raw_zone(
    dest: str,
    seed: int,
    n_orders: int,
    n_products: int = 10_000,
    span_days: int = 30,
    items_per_order: float = 2.5,
) -> None:
    """Write a reference-shaped raw zone under ``dest``:
    ``products.csv``, ``orders/orders_dayNN.csv``,
    ``order_items/order_items_dayNN.csv`` and
    ``order_items/order_items_dayNN_late.csv`` (late arrivals for
    earlier days, delivered with day NN's upload)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(os.path.join(dest, "orders"))
    os.makedirs(os.path.join(dest, "order_items"))

    # products
    pid = np.arange(1, n_products + 1)
    retail = _money(rng.uniform(5, 300, n_products))
    cost = _money(retail * rng.uniform(0.3, 0.8, n_products))
    brand = np.array([f"Brand{b}" for b in rng.integers(0, 200, n_products)], object)
    brand[rng.random(n_products) < 0.01] = None
    products = {
        "id": pid,
        "sku": np.array([f"SKU-{i:08d}" for i in pid], object),
        "cost": cost,
        "category": np.array(CATEGORIES, object)[rng.integers(0, 7, n_products)],
        "name": np.array([f"Product {i}" for i in pid], object),
        "brand": brand,
        "retail_price": retail,
        "department": np.array(DEPARTMENTS, object)[rng.integers(0, 7, n_products)],
    }
    _csv(
        os.path.join(dest, "products.csv"), tuple(products), products,
        np.arange(n_products),
    )

    # orders: one upload day each, ids unique
    day = np.sort(rng.integers(0, span_days, n_orders))
    secs = day * 86400 + rng.integers(0, 86400, n_orders)
    returned = rng.random(n_orders) < 0.2
    created = _ts(START_DAY, secs)
    returned_at = np.where(returned, _ts(START_DAY, secs + 5 * 86400), None)
    delivered_at = _ts(START_DAY, secs + 3 * 86400)
    delivered_at[rng.random(n_orders) < 0.01] = None
    n_items = rng.poisson(items_per_order - 1, n_orders) + 1
    orders = {
        "order_id": np.arange(1, n_orders + 1).astype(object),
        "user_id": rng.integers(1, max(2, n_orders // 3), n_orders).astype(object),
        "status": np.where(returned, "returned", "delivered").astype(object),
        "created_at": created,
        "returned_at": returned_at,
        "shipped_at": _ts(START_DAY, secs + 86400),
        "delivered_at": delivered_at,
        "num_of_item": n_items,
    }
    bad = np.flatnonzero(rng.random(n_orders) < ORDER_NULL_SHARE)
    for i, field in zip(bad, rng.integers(0, 3, len(bad))):
        orders[("order_id", "user_id", "created_at")[field]][i] = None

    # items: n_items per order, plus orphans pointing past the last order
    owner = np.repeat(np.arange(n_orders), n_items)
    n = len(owner)
    price = _money(products["retail_price"][rng.integers(0, n_products, n)])
    items = {
        "id": np.arange(1, n + 1).astype(object),
        "order_id": (owner + 1).astype(object),
        "user_id": np.asarray(orders["user_id"])[owner],
        "product_id": rng.integers(1, n_products + 1, n).astype(object),
        "status": orders["status"][owner],
        "created_at": created[owner],
        "shipped_at": orders["shipped_at"][owner],
        "delivered_at": delivered_at[owner],
        "returned_at": returned_at[owner],
        "sale_price": price.astype(object),
    }
    u = rng.random(n)
    orphan = u < ITEM_ORPHAN_SHARE
    items["order_id"][orphan] = n_orders + 1 + np.flatnonzero(orphan)
    dangling = (u >= ITEM_ORPHAN_SHARE) & (
        u < ITEM_ORPHAN_SHARE + ITEM_DANGLING_PRODUCT_SHARE
    )
    items["product_id"][dangling] = n_products + 1 + np.flatnonzero(dangling)
    bad_price = np.flatnonzero(rng.random(n) < ITEM_BAD_PRICE_SHARE)
    items["sale_price"][bad_price] = -_money(rng.uniform(0, 50, len(bad_price)))
    bad = np.flatnonzero(rng.random(n) < ITEM_NULL_SHARE)
    for i, field in zip(bad, rng.integers(0, 3, len(bad))):
        items[("id", "product_id", "sale_price")[field]][i] = None

    # delivery day of each item: its order's day, or 1-3 days later
    item_day = day[owner] + np.where(
        rng.random(n) < LATE_ITEM_SHARE, rng.integers(1, 4, n), 0
    )
    for d in range(span_days):
        _csv(
            os.path.join(dest, "orders", f"orders_day{d:02d}.csv"), _ORDER_COLS,
            orders, np.flatnonzero(day == d),
        )
        on_time = np.flatnonzero((item_day == d) & (day[owner] == d))
        late = np.flatnonzero((item_day == d) & (day[owner] < d))
        _csv(
            os.path.join(dest, "order_items", f"order_items_day{d:02d}.csv"),
            _ITEM_COLS, items, on_time,
        )
        if len(late):
            _csv(
                os.path.join(dest, "order_items", f"order_items_day{d:02d}_late.csv"),
                _ITEM_COLS, items, late,
            )
    # items due after the last day are delivered with the last upload
    tail = np.flatnonzero(item_day >= span_days)
    if len(tail):
        _csv(
            os.path.join(
                dest, "order_items", f"order_items_day{span_days - 1:02d}_tail.csv"
            ),
            _ITEM_COLS, items, tail,
        )


def upload_schedule(zone: str) -> list[dict[str, list[str]]]:
    """Day-by-day uploads of a raw zone: upload ``d`` is that day's
    orders file, then its items file(s) (on-time, late, tail), as paths
    relative to ``zone``. Orders precede items within an upload, as in
    the reference's upload order."""
    items = sorted(os.listdir(os.path.join(zone, "order_items")))
    out = []
    for name in sorted(os.listdir(os.path.join(zone, "orders"))):
        tag = name[len("orders_"):-len(".csv")]
        out.append(
            {
                "orders": [os.path.join("orders", name)],
                "order_items": [
                    os.path.join("order_items", f)
                    for f in items
                    if f.startswith(f"order_items_{tag}")
                ],
            }
        )
    return out


# --- TPC-H-ish parquet tables for the query mix --------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash a merge batch spark the "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")


def build_tpch(dest: str, seed: int, sf: float) -> None:
    """Write the ten parquet tables ``load_testdata`` reads, shaped like
    the repository's TPC-H-ish testdata at scale factor ``sf``: same column
    names and types, cardinalities and value domains. Documents include
    5% planted near-duplicates (an earlier text plus one word)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(dest)

    def write(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols), os.path.join(dest, f"{name}.parquet"))

    def i32(x):
        return pa.array(x, pa.int32())

    def i64(x):
        return pa.array(x, pa.int64())

    def f64(x):
        return pa.array(x, pa.float64())

    def s(x):
        return pa.array(list(x), pa.string())

    def ts(days: np.ndarray, base: str, secs=None) -> pa.Array:
        t = np.datetime64(base, "us") + days.astype("timedelta64[D]")
        if secs is not None:
            t = t + secs.astype("timedelta64[us]")
        return pa.array(t.astype("datetime64[us]"), pa.timestamp("us"))

    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(50, int(50_000 * sf))

    write("region", {
        "r_regionkey": i32(range(5)),
        "r_name": s(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    write("nation", {
        "n_nationkey": i32(range(25)),
        "n_name": s(f"NATION_{i}" for i in range(25)),
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    write("customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": s(f"Customer#{i:09d}" for i in range(n_cust)),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(_money(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": s(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)]),
    })
    write("supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": s(f"Supplier#{i:09d}" for i in range(n_supp)),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(_money(rng.uniform(-999.99, 9999.99, n_supp))),
    })
    pk = np.arange(n_part)
    write("part", {
        "p_partkey": i64(pk),
        "p_name": s(
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ),
        "p_brand": s(f"Brand#{b}" for b in rng.integers(1, 26, n_part)),
        "p_type": s(np.array(
            ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
        )[rng.integers(0, 6, n_part)]),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(900 + (pk % 1000) / 10, 1)),
    })
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    write("orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": s(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": f64(_money(rng.uniform(1000, 500_000, n_ord))),
        "o_orderdate": ts(odays, "1995-01-01"),
        "o_orderpriority": s(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]),
    })
    n_line = 4 * n_ord
    # ~1.7% of orders get no lines, as in the reference testdata
    lorder = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    write("lineitem", {
        "l_orderkey": i64(lorder),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(qty),
        "l_extendedprice": f64(_money(qty * rng.uniform(900, 2100, n_line))),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": s(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": s(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": ts(rng.integers(0, 2500, n_line), "1995-01-02"),
    })
    esecs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    write("events", {
        "event_id": i64(range(n_events)),
        "ts": ts(np.zeros(n_events, int), "2024-01-01", esecs),
        "user_id": i64(rng.integers(0, 150, n_events)),
        "event_type": s(np.array(
            ["error", "click", "view", "signup", "purchase"]
        )[rng.integers(0, 5, n_events)]),
        "value": f64(_money(rng.exponential(50, n_events) + 0.01)),
        "props": s(f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)),
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, 30, n_words)]))
    write("documents", {
        "doc_id": i64(range(n_docs)),
        "text": s(texts),
        "lang": s(np.array(["en", "en", "en", "zh", "es", "de", "fr"])[
            rng.integers(0, 7, n_docs)
        ]),
        "source": s(f"src{i % 20}" for i in range(n_docs)),
        "n_chars": i64([len(t) for t in texts]),
    })
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vecs)
    vec = 0.15 * centers[label] + rng.normal(size=(n_vecs, 64)) / 8
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": i64(range(n_vecs)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(label),
    })
