"""Tests of the benchmark itself.

Run from the repository root: ``python -m pytest perfbench -q``. The
last test starts Spark twice (about two minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import check
import gen
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for f in names:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize(
    "build",
    [
        lambda d, seed: gen.build_raw_zone(d, seed, 300, n_products=50, span_days=5),
        lambda d, seed: gen.build_tpch(d, seed, 0.001),
    ],
    ids=["raw_zone", "tpch"],
)
def test_same_seed_gives_byte_identical_inputs(tmp_path, build):
    build(str(tmp_path / "a"), 7)
    build(str(tmp_path / "b"), 7)
    build(str(tmp_path / "c"), 8)
    a, b, c = (_tree(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_upload_schedule_delivers_the_whole_zone_once(tmp_path):
    zone = str(tmp_path / "z")
    gen.build_raw_zone(zone, 3, 400, n_products=50, span_days=6)
    sched = gen.upload_schedule(zone)
    assert len(sched) == 6
    files = [f for up in sched for f in up["orders"] + up["order_items"]]
    on_disk = [
        os.path.join(sub, f)
        for sub in ("orders", "order_items")
        for f in os.listdir(os.path.join(zone, sub))
    ]
    assert sorted(files) == sorted(on_disk)
    assert any("_late" in f for f in files)


def test_raw_zone_plants_every_invalid_row_kind(tmp_path):
    zone = str(tmp_path / "z")
    gen.build_raw_zone(zone, 5, 3000, n_products=200, span_days=5)
    con = duckdb.connect()
    items = con.execute(
        "SELECT * FROM " + check._csv_sql(
            os.path.join(zone, "order_items", "*.csv"), check._ITEM_TYPES
        )
    ).df()
    orders = con.execute(
        "SELECT * FROM " + check._csv_sql(
            os.path.join(zone, "orders", "*.csv"), check._ORDER_TYPES
        )
    ).df()
    assert orders[["order_id", "user_id", "created_at"]].isna().any(axis=1).sum() > 0
    assert items[["id", "product_id", "sale_price"]].isna().any(axis=1).sum() > 0
    assert (items["sale_price"] <= 0).sum() > 0
    assert (~items["order_id"].isin(orders["order_id"])).sum() > 0
    assert (items["product_id"] > 200).sum() > 0


def _write_like_the_sink(df, path: str) -> None:
    """Write ``df`` the way ``KeyedParquetUpsertSink`` lays it out:
    one ``order_date=`` directory per key."""
    for day, part in df.groupby("order_date"):
        d = os.path.join(path, f"order_date={day}")
        os.makedirs(d)
        pq.write_table(
            pa.Table.from_pandas(part.drop(columns="order_date"), preserve_index=False),
            os.path.join(d, "part-0.parquet"),
        )


def test_corrupted_kpi_output_is_caught(tmp_path):
    zone = str(tmp_path / "z")
    gen.build_raw_zone(zone, 11, 2000, n_products=100, span_days=4)
    want = check.kpi_mirror(zone)
    good = str(tmp_path / "good")
    bad = str(tmp_path / "bad")
    for name, df in want.items():
        _write_like_the_sink(df, os.path.join(good, name))
        corrupt = df.copy()
        col = "daily_revenue" if name == "category_kpi" else "total_revenue"
        corrupt.loc[corrupt.index[0], col] += 0.01
        _write_like_the_sink(corrupt, os.path.join(bad, name))
    assert check.kpi_problems(zone, good) == [
        ("stream_vs_mirror.category_kpi", None), ("stream_vs_mirror.order_kpi", None),
    ]
    problems = check.kpi_problems(zone, bad)
    assert len(problems) == 2 and all("value hash" in p for _, p in problems)


def test_benchmark_json_names_the_emitted_per_layer_metrics():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared == workloads.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_emitted_with_its_unit(trace):
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kpi_stream",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {
        name: m["unit"] for name, m in result["metrics"].items()
    } == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
