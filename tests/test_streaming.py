"""End-to-end tests of the event-driven layer: file-source pipeline
with checkpoint/upsert, watermarked rollups, streaming sessionization.
All drive real Structured Streaming queries to completion
(availableNow / processAllAvailable) on temp dirs."""

from __future__ import annotations

import os

import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import pipeline_batch
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    events as events_ops,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.kv import (
    KeyedParquetUpsertSink,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
    load_testdata,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
    run_event_driven_pipeline,
    sessionized_stream,
    watermarked_daily_rollup,
)

SF = "/root/testdata/sf0.001"

ORDERS_CSV = """order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item
1,100,delivered,2025-03-08T10:00:00,,2025-03-08T12:00:00,2025-03-09T10:00:00,2
2,101,returned,2025-03-08T11:00:00,2025-03-10T09:00:00,2025-03-08T13:00:00,2025-03-09T11:00:00,1
3,102,delivered,2025-03-09T09:00:00,,2025-03-09T12:00:00,2025-03-10T10:00:00,1
"""

PRODUCTS_CSV = """id,sku,cost,category,name,brand,retail_price,department
1,A-1,5.0,Electronics,Widget,Acme,10.0,Gadgets
2,B-2,2.0,Books,Novel,Pub,8.0,Media
"""

ITEMS1_CSV = """id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price
10,1,100,1,delivered,2025-03-08T10:00:00,2025-03-08T12:00:00,2025-03-09T10:00:00,,10.0
11,1,100,2,delivered,2025-03-08T10:00:00,2025-03-08T12:00:00,2025-03-09T10:00:00,,8.0
12,2,101,1,returned,2025-03-08T11:00:00,2025-03-08T13:00:00,2025-03-09T11:00:00,2025-03-10T09:00:00,10.0
"""

ITEMS2_CSV = """id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price
13,3,102,2,delivered,2025-03-09T09:00:00,2025-03-09T12:00:00,2025-03-10T10:00:00,,8.0
"""


def _write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def test_event_driven_pipeline_incremental(spark, tmp_path):
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write(f"{raw}/products.csv", PRODUCTS_CSV)
    _write(f"{raw}/orders/part1.csv", ORDERS_CSV)
    _write(f"{raw}/order_items/part1.csv", ITEMS1_CSV)

    run_event_driven_pipeline(spark, raw, out, ckpt)
    cat = spark.read.parquet(f"{out}/category_kpi")
    day1 = {r["category"]: r for r in cat.collect()}
    assert set(day1) == {"Electronics", "Books"}
    assert day1["Electronics"]["daily_revenue"] == 20.0
    ord1 = spark.read.parquet(f"{out}/order_kpi").collect()
    assert len(ord1) == 1  # only 2025-03-08 has items so far

    # second upload: order 3's item arrives → only 2025-03-09 recomputed
    _write(f"{raw}/order_items/part2.csv", ITEMS2_CSV)
    run_event_driven_pipeline(spark, raw, out, ckpt)
    ord2 = {str(r["order_date"]): r for r in
            spark.read.parquet(f"{out}/order_kpi").collect()}
    assert set(ord2) == {"2025-03-08", "2025-03-09"}
    assert ord2["2025-03-09"]["total_orders"] == 1
    assert ord2["2025-03-08"]["total_items_sold"] == 3

    # exactly-once: re-running with no new files changes nothing
    run_event_driven_pipeline(spark, raw, out, ckpt)
    assert spark.read.parquet(f"{out}/order_kpi").count() == 2


ORDERS_HEADER = ORDERS_CSV.splitlines()[0]
ITEMS_HEADER = ITEMS1_CSV.splitlines()[0]


def _orders_csv(*rows: tuple) -> str:
    """(order_id, user_id, created_at, returned_at) → reference CSV."""
    lines = [
        f"{oid},{uid},delivered,{ts},{ret},{ts},{ts},1"
        for oid, uid, ts, ret in rows
    ]
    return "\n".join([ORDERS_HEADER, *lines]) + "\n"


def _items_csv(*rows: tuple) -> str:
    """(id, order_id, product_id, sale_price) → reference CSV."""
    ts = "2025-03-08T10:00:00"
    lines = [
        f"{iid},{oid},100,{pid},delivered,{ts},{ts},{ts},,{price}"
        for iid, oid, pid, price in rows
    ]
    return "\n".join([ITEMS_HEADER, *lines]) + "\n"


#: Three uploads (orders file + items file each). The second carries
#: late items of first-upload orders; every upload carries orphan,
#: null, non-positive-price or dangling-product (id 9) items; every
#: item of the third fails validation. Order 4 has a null user_id, so
#: its items are orphans too.
UPLOADS = [
    (
        _orders_csv(
            (1, 100, "2025-03-08T10:00:00", ""),
            (2, 101, "2025-03-08T11:00:00", "2025-03-10T09:00:00"),
            (3, 102, "2025-03-09T09:00:00", ""),
            (4, "", "2025-03-09T10:00:00", ""),
        ),
        _items_csv(
            (10, 1, 1, 10.0), (11, 1, 2, 8.0), (12, 2, 1, 10.0),
            (13, 3, 2, 8.0), (14, 99, 1, 5.0), ("", 1, 1, 5.0),
            (16, 1, 2, ""), (17, 1, 1, -3.0), (18, 2, 9, 7.5),
            (19, 4, 1, 6.0),
        ),
    ),
    (
        _orders_csv((5, 104, "2025-03-10T08:00:00", "")),
        _items_csv(
            (20, 5, 3, 12.5), (21, 1, 3, 4.25), (22, 3, 9, 6.0),
            (23, 2, 2, 0.0),
        ),
    ),
    (
        _orders_csv((6, 105, "2025-03-11T08:00:00", "")),
        _items_csv(
            (30, 6, 1, 0.0), (31, 6, "", 3.0), (32, 98, 1, 3.0),
            (33, 4, 1, 3.0),
        ),
    ),
]


def _land_upload(raw: str, i: int) -> None:
    orders, items = UPLOADS[i]
    _write(f"{raw}/orders/upload{i}.csv", orders)
    _write(f"{raw}/order_items/upload{i}.csv", items)


def _files_under(path: str) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(d, f), path): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, names in os.walk(path)
        for f in names
    }


def _table_rows(spark, path: str) -> list[tuple]:
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_event_driven_uploads_match_batch_pipeline(spark, tmp_path):
    """One trigger per upload converges to the batch pipeline over the
    same zone, and an upload whose items all fail validation rewrites
    no KPI partition."""
    raw, out, ckpt = (str(tmp_path / d) for d in ("raw", "out", "ckpt"))
    _write(f"{raw}/products.csv", PRODUCTS_CSV + "3,C-3,1.0,Toys,Ball,Acme,4.0,Kids\n")
    for i in range(2):
        _land_upload(raw, i)
        run_event_driven_pipeline(spark, raw, out, ckpt)
    before = _files_under(out)
    _land_upload(raw, 2)
    run_event_driven_pipeline(spark, raw, out, ckpt)
    assert _files_under(out) == before

    batch_out = str(tmp_path / "batch")
    held = _persisted_rdd_ids(spark)
    paths = pipeline_batch.run(spark, raw, batch_out)
    assert _persisted_rdd_ids(spark) == held
    # the persisted KPI outputs keep AQE's coalesced width: a handful
    # of processed-zone files, not one per initial shuffle partition
    for table in ("category_kpi", "order_kpi"):
        parts = [f for f in os.listdir(f"{paths['processed']}/{table}") if f.endswith(".csv")]
        assert 1 <= len(parts) <= 4
        got = _table_rows(spark, f"{out}/{table}")
        assert got == _table_rows(spark, f"{batch_out}/{table}")
    days = {str(r.order_date) for r in spark.read.parquet(f"{out}/order_kpi").collect()}
    assert days == {"2025-03-08", "2025-03-09", "2025-03-10"}


def test_event_driven_releases_persisted_state(spark, tmp_path, monkeypatch):
    """Nothing a micro-batch persists outlives it: not after the
    pipeline returns, and not after an upsert raises mid-batch."""
    raw = str(tmp_path / "raw")
    _write(f"{raw}/products.csv", PRODUCTS_CSV)
    _land_upload(raw, 0)
    held = _persisted_rdd_ids(spark)
    run_event_driven_pipeline(
        spark, raw, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert _persisted_rdd_ids(spark) == held

    real_upsert = KeyedParquetUpsertSink.upsert
    calls = []

    def upsert_then_fail(self, batch):
        calls.append(self.path)
        if len(calls) == 2:
            raise RuntimeError("second upsert fails")
        real_upsert(self, batch)

    monkeypatch.setattr(KeyedParquetUpsertSink, "upsert", upsert_then_fail)
    with pytest.raises(StreamingQueryException, match="second upsert fails"):
        run_event_driven_pipeline(
            spark, raw, str(tmp_path / "out2"), str(tmp_path / "ckpt2")
        )
    assert len(calls) == 2
    assert _persisted_rdd_ids(spark) == held


@pytest.fixture()
def events_stream(spark, tmp_path):
    events = load_testdata(spark, SF, ("events",))["events"]
    src = str(tmp_path / "events_parquet")
    events.write.parquet(src)
    return spark.readStream.schema(events.schema).parquet(src), events


def test_watermarked_daily_rollup_matches_batch(spark, events_stream, tmp_path):
    stream, batch = events_stream
    q = (
        watermarked_daily_rollup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("daily_out")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_date"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM daily_out").collect()
    }
    # append mode withholds windows newer than the watermark; whatever
    # was emitted must match the batch rollup exactly
    expected = {
        (r["event_date"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_ops.daily_event_rollup(batch).collect()
    }
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_sessionized_stream_matches_batch(spark, events_stream, tmp_path):
    stream, batch = events_stream
    q = (
        sessionized_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start_us"]): (r["n_events"], r["session_value"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # batch sessions keyed the same way: first event's epoch-µs
    ev_us = {
        r["event_id"]: r["us"]
        for r in batch.select(
            "event_id", F.unix_micros("ts").alias("us")
        ).collect()
    }
    expected = {
        (r["user_id"], ev_us[r["first_event_id"]]): (
            r["n_events"],
            r["session_value"],
        )
        for r in events_ops.sessionize(batch).collect()
    }
    # append mode withholds sessions the watermark hasn't closed; every
    # emitted session must match its batch twin exactly
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_stateful_running_totals_incremental(spark, tmp_path):
    """applyInPandasWithState: per-user running totals accumulate
    across micro-batches and match the batch aggregate exactly."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.stateful import (
        running_user_totals,
    )

    events = load_testdata(spark, SF, ("events",))["events"].filter(
        F.col("user_id") < 20
    )
    chunk1 = events.filter(F.col("event_id") % 2 == 0)
    chunk2 = events.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    chunk1.write.mode("append").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        chunk2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    # memory sink in update mode appends a row per update — the last
    # row per user is the final state
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM running_totals"
        ).collect()
        # later rows overwrite earlier ones via dict insertion order
    }
    expect = {
        r["user_id"]: (r["n"], float(r["tot"]))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
                / 100.0
            ).alias("tot"),
        )
        .collect()
    }
    assert got == expect


def test_watermark_drops_data_later_than_watermark(spark, tmp_path):
    """Append-mode windowed agg: a window is emitted once the watermark
    passes its end, and events arriving after that are dropped — the
    emitted row for the closed window never changes."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.windows import (
        watermarked_daily_rollup,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    in_schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )

    def batch(rows):
        spark.createDataFrame(rows, in_schema).select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
            "event_type", "value", "props",
        ).write.mode("append").parquet(src)

    # day 1 events, then a day-3 event that advances the watermark
    # (1-day watermark) far past day 1's window end
    batch([(1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
           (2, "2024-01-01 11:00:00", 1, "view", 1.0, "{}")])
    batch([(3, "2024-01-03 09:00:00", 2, "view", 1.0, "{}")])

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        watermarked_daily_rollup(stream, watermark="1 day")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    first = {
        (r["event_date"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    # day-1 window closed (watermark = day3 - 1day = day2 > day1 end)
    assert ("2024-01-01", 2) in first

    # a straggler for day 1 arrives — beyond the watermark: dropped
    batch([(4, "2024-01-01 23:00:00", 3, "view", 1.0, "{}")])
    q2 = (
        watermarked_daily_rollup(stream, watermark="1 day")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    after = sorted(
        (r["event_date"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    )
    # day-1 row unchanged (still 2 events) — the late event was dropped,
    # no duplicate/updated emission for the closed window
    assert after.count(("2024-01-01", 2)) == 1
    assert ("2024-01-01", 1) not in after and ("2024-01-01", 3) not in after


def test_stateful_accumulator_matches_det_round_for_negatives():
    """The cents accumulator must floor(x*100+0.5) like det_round —
    int() truncation diverges for negatives (−0.014 → 0 cents instead
    of −1) — and skip nulls like a SQL SUM (ADVICE r1 #2)."""
    import pandas as pd

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.stateful import (
        _update_running_totals,
    )

    class FakeState:
        def __init__(self):
            self._t = None

        @property
        def exists(self):
            return self._t is not None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self._t = t

    state = FakeState()
    pdf = pd.DataFrame({"value": [1.006, -0.014, None]})
    (out,) = list(_update_running_totals((7,), [pdf], state))
    # det_round(1.006)=1.01, det_round(-0.014)=-0.01, null skipped
    assert state.get == (3, 100)
    assert out["total_value"].iloc[0] == 1.0
    assert out["n_events"].iloc[0] == 3


def test_streaming_dedup_drops_redelivered_events(spark, tmp_path):
    """At-least-once delivery guard: a second micro-batch re-delivers
    every event of the first (the reference's retried-S3-object case)
    plus new ones; dropDuplicatesWithinWatermark must emit each
    event_id exactly once, via the dedup state operator (bounded by
    the watermark, unlike plain streaming dropDuplicates)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        dedup_events_stream,
    )

    src = str(tmp_path / "dedup_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    schema = "event_id long, ts timestamp, user_id long, value double"

    def batch(ids):
        return spark.createDataFrame(
            [(i, f"2025-03-08 12:{i % 60:02d}:00", i % 7, float(i)) for i in ids],
            "event_id long, ts string, user_id long, value double",
        ).select(
            "event_id", F.to_timestamp("ts").alias("ts"), "user_id", "value"
        )

    batch(range(100)).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        dedup_events_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # full re-delivery of 0..99 plus new 100..149
        batch(list(range(100)) + list(range(100, 150))).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = spark.sql("SELECT event_id, COUNT(*) AS n FROM dedup_out "
                        "GROUP BY event_id").collect()
        assert len(got) == 150
        assert all(r["n"] == 1 for r in got)
        op = q.lastProgress["stateOperators"][0]
        assert op["operatorName"] == "dedupeWithinWatermark"
        assert op["numRowsDroppedByWatermark"] == 0
    finally:
        q.stop()


def test_streaming_kpi_values_converge_to_batch(spark, tmp_path):
    """VERDICT r3 item #5 — the value-parity gate for the streaming KPI
    twin: replay the ENTIRE sf0.001 item-fact as a finite stream (two
    micro-batches, then drained) and the final update-mode row per day
    must equal batch ``order_kpi`` — exactly for the sums/counts/rate,
    within the documented HLL tolerance for the two distinct counts."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        kpi,
        mapping,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        order_kpi_streaming_update,
    )

    t = load_testdata(spark, SF, ("orders", "lineitem", "part"))
    fact = mapping.item_fact_from_tpch(t["lineitem"], t["orders"], t["part"])
    stream_input = fact.select(
        "id",
        "order_id",
        "user_id",
        "sale_price",
        "is_returned",
        F.col("order_date").cast("timestamp").alias("created_at"),
    )

    src = str(tmp_path / "kpi_parity_src")
    ckpt = str(tmp_path / "kpi_parity_ckpt")
    # two micro-batches, split by EVENT TIME (an ordered replay): the
    # 1-day watermark advances to max(batch1)-1d after the first batch,
    # so a batch 2 containing older events would see them dropped as
    # late — which is watermark semantics, not a parity bug
    cutoff = "1996-01-01"
    stream_input.filter(F.col("created_at") < cutoff).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(stream_input.schema).parquet(src)
    rsd = 0.05
    q = (
        order_kpi_streaming_update(stream, rsd=rsd)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kpi_parity")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        stream_input.filter(F.col("created_at") >= cutoff).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # update-mode memory sink appends one row per updated window per
        # batch — insertion order makes the LAST row per day the final
        got = {
            r["order_date"]: r
            for r in spark.sql("SELECT * FROM kpi_parity").collect()
        }
    finally:
        q.stop()

    expected = {
        str(r["order_date"]): r for r in kpi.order_kpi(fact).collect()
    }
    assert set(got) == set(expected)
    tol = 3 * rsd  # documented HLL divergence, 3-sigma
    for day, exp in expected.items():
        g = got[day]
        assert g["total_revenue"] == exp["total_revenue"], day
        assert g["total_items_sold"] == exp["total_items_sold"], day
        assert g["return_rate"] == exp["return_rate"], day
        assert abs(g["total_orders"] - exp["total_orders"]) <= max(
            1, tol * exp["total_orders"]
        ), day
        assert abs(g["unique_customers"] - exp["unique_customers"]) <= max(
            1, tol * exp["unique_customers"]
        ), day


def test_streaming_category_kpi_stream_static_join_parity(spark, tmp_path):
    """category_kpi's streaming twin: the dim lookup is a stream-static
    BROADCAST join (re-planned per micro-batch, no join state), and a
    full ordered replay must converge to batch category_kpi — exactly
    on daily_revenue, within HLL tolerance on the two
    distinct-order-denominated metrics."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        kpi,
        mapping,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        category_kpi_streaming_update,
    )

    t = load_testdata(spark, SF, ("orders", "lineitem", "part"))
    fact = mapping.item_fact_from_tpch(t["lineitem"], t["orders"], t["part"])
    stream_input = fact.select(
        "id",
        "order_id",
        "product_id",
        "sale_price",
        "is_returned",
        F.col("order_date").cast("timestamp").alias("created_at"),
    )
    products = mapping.products_from_tpch(t["part"])

    src = str(tmp_path / "cat_parity_src")
    ckpt = str(tmp_path / "cat_parity_ckpt")
    cutoff = "1996-01-01"
    stream_input.filter(F.col("created_at") < cutoff).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(stream_input.schema).parquet(src)
    rsd = 0.05
    q = (
        category_kpi_streaming_update(stream, products, rsd=rsd)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cat_parity")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        stream_input.filter(F.col("created_at") >= cutoff).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = {
            (r["order_date"], r["category"]): r
            for r in spark.sql("SELECT * FROM cat_parity").collect()
        }
    finally:
        q.stop()

    expected = {
        (str(r["order_date"]), r["category"]): r
        for r in kpi.category_kpi(fact).collect()
    }
    assert set(got) == set(expected)
    tol = 3 * rsd
    for key, exp in expected.items():
        g = got[key]
        assert g["daily_revenue"] == exp["daily_revenue"], key
        assert abs(g["avg_order_value"] - exp["avg_order_value"]) <= max(
            0.01, tol * exp["avg_order_value"]
        ), key
        assert abs(g["avg_return_rate"] - exp["avg_return_rate"]) <= max(
            0.01, tol * max(exp["avg_return_rate"], 1.0)
        ), key


def test_update_mode_kpi_state_stays_flat(spark, tmp_path):
    """ROADMAP #4: the update-mode daily KPI keeps one HLL sketch per
    open day, so the state-store row count must NOT grow as thousands
    of new distinct orders/customers stream in — and the approximate
    distinct counts must land within the sketch's error bound."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        order_kpi_streaming_update,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "id long, order_id long, user_id long, sale_price double, "
        "is_returned boolean, created_at timestamp"
    )

    def chunk(start):  # 1000 items, 500 orders, 500 users — all new ids
        return spark.range(start, start + 1000).select(
            F.col("id"),
            (F.col("id") / 2).cast("long").alias("order_id"),
            (F.col("id") / 2).cast("long").alias("user_id"),
            F.lit(10.0).alias("sale_price"),
            (F.col("id") % 4 == 0).alias("is_returned"),
            F.to_timestamp(F.lit("2025-03-08 12:00:00")).alias("created_at"),
        )

    chunk(0).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        order_kpi_streaming_update(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kpi_update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        state_rows = []
        for i in range(1, 4):
            q.processAllAvailable()
            state_rows.append(q.lastProgress["stateOperators"][0]["numRowsTotal"])
            if i < 3:
                chunk(i * 1000).write.mode("append").parquet(src)
        # one open day → exactly one state row, every batch, despite
        # 1500 distinct orders/users by the end
        assert state_rows == [1, 1, 1], state_rows
        final = {r["order_date"]: r for r in spark.sql(
            "SELECT * FROM kpi_update"
        ).collect()}
        row = final["2025-03-08"]
        assert row["total_items_sold"] == 3000
        assert row["total_revenue"] == 30000.0
        assert row["return_rate"] == 25.0
        # HLL at rsd=0.05 on 1500 distinct ids — allow 3 sigma
        assert abs(row["total_orders"] - 1500) <= 0.15 * 1500
        assert abs(row["unique_customers"] - 1500) <= 0.15 * 1500
    finally:
        q.stop()


def test_interval_joined_stream_matches_batch(spark, events_stream, tmp_path):
    """Stream-static interval join replayed to completion == the batch
    events_order_window aggregation (stateless enrichment: every event
    appears in exactly one micro-batch, so per-event aggregation over
    the emitted rows is exact)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        interval_joined_events_stream,
    )

    stream, _ = events_stream
    orders = load_testdata(spark, SF, ("orders",))["orders"]
    q = (
        interval_joined_events_stream(stream, orders, window_days=7)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ivj_out")
        .option("checkpointLocation", str(tmp_path / "ck_ivj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: (r["n"], r["mx"])
        for r in spark.sql(
            "SELECT event_id, COUNT(o_orderkey) AS n, MAX(o_orderkey) AS mx "
            "FROM ivj_out GROUP BY event_id"
        ).collect()
    }
    expected = {
        r["event_id"]: (r["n_orders_7d"], r["last_orderkey_7d"])
        for r in QUERIES["events_order_window"](spark, SF).collect()
    }
    assert got == expected and got


def test_funnel_firsts_streaming_converges_to_batch(spark, events_stream, tmp_path):
    """Update-mode per-user first-occurrence state, replayed to
    completion, equals the batch funnel pivot exactly — and the funnel
    summary computed from the final state matches the batch
    conversion_funnel row for row. The memory sink keeps every update;
    min() per user over them recovers the final state (firsts only
    ever decrease)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        funnel_firsts_streaming,
    )

    stream, batch = events_stream
    q = (
        funnel_firsts_streaming(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_firsts_out")
        .option("checkpointLocation", str(tmp_path / "ck_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.sql(
        "SELECT user_id, MIN(first_view) AS t0, MIN(first_click) AS t1, "
        "MIN(first_purchase) AS t2 FROM funnel_firsts_out GROUP BY user_id"
    )
    got_firsts = {
        r["user_id"]: (r["t0"], r["t1"], r["t2"]) for r in final.collect()
    }
    expected_firsts = {
        r["user_id"]: (r["t0"], r["t1"], r["t2"])
        for r in batch.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t1"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t2"),
        )
        .collect()
    }
    assert got_firsts == expected_firsts and got_firsts

    n0 = sum(1 for t in got_firsts.values() if t[0] is not None)
    n1 = sum(
        1
        for t in got_firsts.values()
        if t[0] is not None and t[1] is not None and t[0] <= t[1]
    )
    n2 = sum(
        1
        for t in got_firsts.values()
        if t[0] is not None
        and t[1] is not None
        and t[2] is not None
        and t[0] <= t[1] <= t[2]
    )
    batch_funnel = {
        r["step"]: r["n_users"]
        for r in QUERIES["conversion_funnel"](spark, SF).collect()
    }
    assert batch_funnel == {"view": n0, "click": n1, "purchase": n2}


def test_cohort_retention_streaming_converges_to_batch(spark, events_stream, tmp_path):
    """The (user, day) activity state, replayed to completion and fed
    through the batch derivation, equals the batch cohort_retention
    query row for row — the retention twin of the funnel-firsts
    convergence test. Update mode may emit a (user, day) key several
    times as its count grows; only the key set feeds retention, so
    DISTINCT over the sink recovers the final state."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        cohort_retention_from_activity,
        user_day_activity_streaming,
    )

    stream, batch = events_stream
    q = (
        user_day_activity_streaming(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("uda_out")
        .option("checkpointLocation", str(tmp_path / "ck_uda"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # localCheckpoint: the retention derivation self-joins the state,
    # and the memory sink's MemoryPlan cannot deduplicate attributes
    # across self-join branches (no MultiInstanceRelation); a
    # checkpointed LogicalRDD can
    state = spark.sql(
        "SELECT DISTINCT user_id, active_day FROM uda_out"
    ).localCheckpoint()
    got = {
        (r["cohort"], r["week_offset"]): (
            r["active_users"], r["cohort_size"], r["retention_pct"],
        )
        for r in cohort_retention_from_activity(state, max_weeks=8).collect()
    }
    expected = {
        (r["cohort"], r["week_offset"]): (
            r["active_users"], r["cohort_size"], r["retention_pct"],
        )
        for r in QUERIES["cohort_retention"](spark, SF).collect()
    }
    assert got == expected and got


def test_daily_anomalies_streaming_converges_to_batch(spark, events_stream, tmp_path):
    """The (type, day) rollup state, streamed to completion in complete
    mode and fed through anomalies_from_daily, equals the batch
    daily_anomalies query row for row — the monitoring twin: the
    stream maintains the rollup, each evaluation is a batch pass over
    the tiny state table."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.events import (
        anomalies_from_daily,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.windows import (
        daily_value_rollup_streaming,
    )

    stream, batch = events_stream
    q = (
        daily_value_rollup_streaming(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("daily_rollup_out")
        .option("checkpointLocation", str(tmp_path / "ck_dr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.sql("SELECT * FROM daily_rollup_out").localCheckpoint()
    got = {
        (r["event_type"], r["day"]): (
            r["day_value"], r["z_score"], r["is_anomaly"],
        )
        for r in anomalies_from_daily(state, z_thresh=2.0).collect()
    }
    expected = {
        (r["event_type"], r["day"]): (
            r["day_value"], r["z_score"], r["is_anomaly"],
        )
        for r in QUERIES["daily_anomalies"](spark, SF).collect()
    }
    assert got == expected and got


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """The ingestion-time dedup gate replayed to completion converges
    to the batch incremental_dedup at FINGERPRINT grain: one emitted
    row per distinct delta fingerprint, dup_of_snapshot exactly where
    the batch operator says the content already exists, 'new'
    elsewhere — with planted within-delta duplicates collapsing to a
    single survivor (which copy survives is arrival order, so parity
    is asserted on the fingerprint, not the doc_id)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        incremental_dedup_stream,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"]
    delta_base = docs.filter(F.col("doc_id") % 3 == 0)
    planted = delta_base.limit(5).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    # ... and snapshot-content copies, so the dup_of_snapshot class is
    # exercised (the synthetic corpus has no natural cross-split dups)
    planted_snap = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .limit(4)
        .withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000))
    )
    delta = delta_base.unionByName(planted).unionByName(planted_snap)
    snapshot = dedup.exact_dedup(
        docs.filter(F.col("doc_id") % 3 != 0)
    ).select("fingerprint")

    batch_rows = dedup.incremental_dedup(delta, snapshot).collect()
    expected = {}
    for r in batch_rows:
        fp = r["fingerprint"]
        expected[fp] = (
            "dup_of_snapshot"
            if r["status"] == "dup_of_snapshot"
            else expected.get(fp, "new")
        )

    src = str(tmp_path / "delta_docs")
    with_ts = delta.withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
    )
    with_ts.write.parquet(src)
    stream = spark.readStream.schema(with_ts.schema).parquet(src)
    q = (
        incremental_dedup_stream(stream, snapshot)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("incdedup_out")
        .option("checkpointLocation", str(tmp_path / "ck_incdedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_rows = spark.sql(
        "SELECT doc_id, fingerprint, status FROM incdedup_out"
    ).collect()
    got = {r["fingerprint"]: r["status"] for r in got_rows}
    # one survivor per distinct fingerprint, statuses agree with batch
    assert len(got_rows) == len(got)
    assert got == expected and got
    assert "dup_of_snapshot" in set(got.values())
    # the planted copies collapsed: fewer emitted rows than delta rows
    assert len(got_rows) < delta.count()


def test_streaming_bm25_index_matches_batch(spark, tmp_path):
    """The incrementally-maintained retrieval index: stream documents
    into the (doc, term, tf) update-mode state, derive BM25 from the
    final state, and get the scan-based bm25_topk ranking ROW-EXACT
    (same decimal contribution sums, same tie-breaks) — search-index
    maintenance without a reindex step."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        doc_term_counts_streaming,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        doc_term_counts_streaming(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("bm25_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_bm25"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory sink keeps every update; counts only grow → max per key
    # recovers the final state. Snapshot it to parquet before scoring
    # — exactly what a deployment does (the index state lands in the
    # zone per epoch), and it gives the scorer's self-joins a clean
    # relation instead of a memory-view lineage.
    snap = str(tmp_path / "bm25_state_snapshot")
    spark.sql(
        "SELECT doc_id, term, MAX(tf) AS tf FROM bm25_state_out "
        "GROUP BY doc_id, term"
    ).write.parquet(snap)
    state = spark.read.parquet(snap)
    terms = ["spark", "merge", "vector"]
    got = [
        (r["bm25_rank"], r["doc_id"], r["bm25_score"], r["n_terms_matched"])
        for r in text.bm25_from_term_state(state, terms, k=10).collect()
    ]
    want = [
        (r["bm25_rank"], r["doc_id"], r["bm25_score"], r["n_terms_matched"])
        for r in text.bm25_topk(docs, terms, k=10).collect()
    ]
    assert got == want and len(got) == 10


def test_streaming_lm_perplexity_matches_batch(spark, tmp_path):
    """One streamed state, two consumers: the SAME (doc, term, tf)
    update-mode state that serves the BM25 index also scores the
    unigram-LM perplexity filter — full-replay parity vs the
    scan-based lm_perplexity must be row-exact (identical plan after
    the tf grain)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        doc_term_counts_streaming,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        doc_term_counts_streaming(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("lm_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_lm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = str(tmp_path / "lm_state_snapshot")
    spark.sql(
        "SELECT doc_id, term, MAX(tf) AS tf FROM lm_state_out "
        "GROUP BY doc_id, term"
    ).write.parquet(snap)
    state = spark.read.parquet(snap)
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in text.lm_perplexity_from_term_state(state).collect()
    }
    want = {
        r["doc_id"]: tuple(r)[1:]
        for r in text.lm_perplexity(docs).collect()
    }
    assert got == want and len(got) == docs.count()


def test_streaming_mixture_weights_matches_batch(spark, tmp_path):
    """Mixture rebalancing off live ingest state: stream documents
    into the per-stratum count aggregate, derive temperature-scaled
    mixture weights from the final state, and match the scan-based
    mixture_weights row-exact."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        curation,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        stratum_counts_streaming,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "source"
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, source string").parquet(src)
    q = (
        stratum_counts_streaming(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mix_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_mix"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.sql(
        "SELECT stratum, MAX(n_docs) AS n_docs FROM mix_state_out "
        "GROUP BY stratum"
    )
    got = {
        r["stratum"]: tuple(r)[1:]
        for r in curation.mixture_weights_from_counts(state, alpha=0.3).collect()
    }
    want = {
        r["stratum"]: tuple(r)[1:]
        for r in curation.mixture_weights(docs, alpha=0.3).collect()
    }
    assert got == want and len(got) > 1


def test_streaming_dsir_state_matches_batch(spark, tmp_path):
    """One streamed hashed-ngram feature state, selector derived from
    it: stream documents into the (doc_id, bucket, c_doc) update-mode
    state, derive DSIR importance ranks from the final state with a
    pinned target model, and get the scan-based
    dsir_importance_weights output ROW-EXACT — quality-targeted data
    selection over live ingest state, no corpus re-scan."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        curation,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        doc_feature_counts_streaming,
    )
    from pyspark.sql import functions as F

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text", "source"
    )
    target = docs.filter(F.col("source").isin("src0", "src1"))
    tgt_model = (
        curation.hashed_ngram_features(target, "doc_id", 512)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    src = str(tmp_path / "dsir_src")
    docs.select("doc_id", "text").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        doc_feature_counts_streaming(stream, n_buckets=512)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("dsir_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_dsir"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = str(tmp_path / "dsir_state_snapshot")
    spark.sql(
        "SELECT doc_id, bucket, MAX(c_doc) AS c_doc FROM dsir_state_out "
        "GROUP BY doc_id, bucket"
    ).write.parquet(snap)
    state = spark.read.parquet(snap)
    got = [
        tuple(r)
        for r in curation.dsir_from_feature_state(
            state, tgt_model, n_buckets=512, k=20
        ).orderBy("sel_rank").collect()
    ]
    want = [
        tuple(r)
        for r in curation.dsir_importance_weights(
            docs.select("doc_id", "text"), target, n_buckets=512, k=20
        ).orderBy("sel_rank").collect()
    ]
    assert got == want and len(got) > 0


def test_streaming_ngram_novelty_state_matches_batch(spark, tmp_path):
    """Stream documents into the (doc_id, shingle-hash, tf)
    update-mode state and derive the duplicated-n-gram audit from the
    final state: row-exact vs the scan-based ngram_novelty — the
    before/after dedup metric maintained by ingest, not re-shingling."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        doc_shingle_counts_streaming,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "nov_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        doc_shingle_counts_streaming(stream, n=5)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("novelty_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_nov"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = str(tmp_path / "nov_state_snapshot")
    spark.sql(
        "SELECT doc_id, _h, MAX(_tf) AS _tf FROM novelty_state_out "
        "GROUP BY doc_id, _h"
    ).write.parquet(snap)
    state = spark.read.parquet(snap)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    got = key(text.ngram_novelty_from_shingle_state(state, threshold=0.5))
    want = key(text.ngram_novelty(docs, n=5, threshold=0.5))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_streaming_funnel_replay_parity(spark, tmp_path):
    """VERDICT r7 #8 — the streaming curation-funnel twin: flags flow
    as a stateless append stream, the survivor-scoped keeper as an
    update-mode min aggregate, novelty from the streamed shingle
    state; curation_funnel_from_state over the replayed states equals
    the batch curation_funnel at stage grain, with zero corpus scans
    in the derivation."""
    import re

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        curation,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.windows import (
        doc_curation_flags_streaming,
        doc_shingle_counts_streaming,
        fingerprint_keeper_streaming,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "funnel_src")
    docs.write.parquet(src)
    stream = lambda: spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)

    flags_q = (
        doc_curation_flags_streaming(stream(), quality_threshold=0.5)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_flags_out")
        .option("checkpointLocation", str(tmp_path / "ck_flags"))
        .trigger(availableNow=True)
        .start()
    )
    keeper_q = (
        fingerprint_keeper_streaming(
            doc_curation_flags_streaming(stream(), quality_threshold=0.5)
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_keeper_out")
        .option("checkpointLocation", str(tmp_path / "ck_keeper"))
        .trigger(availableNow=True)
        .start()
    )
    shingle_q = (
        doc_shingle_counts_streaming(stream(), n=5)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_shingle_out")
        .option("checkpointLocation", str(tmp_path / "ck_fsh"))
        .trigger(availableNow=True)
        .start()
    )
    for q in (flags_q, keeper_q, shingle_q):
        q.awaitTermination()

    # snapshot each state to parquet (the zone form; also avoids
    # memory-sink self-join attribute conflicts in the derivation)
    spark.table("funnel_flags_out").write.parquet(
        str(tmp_path / "snap_flags")
    )
    # keeper snapshot: min ignoring the pre-survivor NULL updates
    spark.sql(
        "SELECT _fp, MIN(keep_id) AS keep_id FROM funnel_keeper_out "
        "GROUP BY _fp"
    ).write.parquet(str(tmp_path / "snap_keeper"))
    spark.sql(
        "SELECT doc_id, _h, MAX(_tf) AS _tf FROM funnel_shingle_out "
        "GROUP BY doc_id, _h"
    ).write.parquet(str(tmp_path / "snap_shingle"))
    flags = spark.read.parquet(str(tmp_path / "snap_flags"))
    keeper = spark.read.parquet(str(tmp_path / "snap_keeper"))
    shingle = spark.read.parquet(str(tmp_path / "snap_shingle"))
    live = curation.curation_funnel_from_state(
        flags, keeper, shingle, novelty_threshold=0.5
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    want = curation.curation_funnel(
        docs, quality_threshold=0.5, novelty_threshold=0.5, ngram_n=5
    )
    assert key(live) == key(want)
    plan = live._jdf.queryExecution().executedPlan().toString()
    assert not re.findall(r"FileScan parquet[^\n]*documents", plan)
