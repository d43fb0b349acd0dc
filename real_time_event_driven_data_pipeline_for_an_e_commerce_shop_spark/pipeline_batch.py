"""Batch pipeline orchestrator — the reference's Task-1 → Task-2 flow
as one Spark application.

A user of the reference runs: upload files → Lambda → Step Functions →
Task 1 (validate, write ``validated/``) → Task 2 (KPIs, write DynamoDB
+ ``processed/``, archive raw). The batch equivalent here is a single
driver program over the same directory layout:

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import pipeline_batch
    pipeline_batch.run(spark, raw_dir, out_dir)

or ``python -m real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark --raw DIR --out DIR``.

Differences from the reference, on purpose (SURVEY.md §3/§7):

* the two stages compose lazily, so Catalyst optimizes across the
  Task-1/Task-2 boundary; the ``validated/`` materialization is
  optional (``materialize_validated``);
* the KPI "DynamoDB tables" are keyed parquet upsert tables
  (``sinks.kv``) — same upsert contract, no row-at-a-time puts;
* the archive step moves processed raw files only when asked
  (``archive=True``), and computes the file list at run time, not
  import time (the reference's ordering hazard, ``task_2.py:261-263``).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators import kpi, validate
from .sinks.files import (
    write_processed_zone,
    write_validated_zone,
    write_validated_zone_bucketed,
    write_zordered_zone,
)
from .sinks.kv import KeyedParquetUpsertSink
from .sources.readers import load_ecommerce_csv, require_inputs


def run(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    run_ts: str | None = None,
    materialize_validated: bool = False,
    bucketed_validated: bool = False,
    archive: bool = False,
    zone_partition_year: bool = True,
    zone_layout: str | None = None,
) -> dict[str, str]:
    """Execute the full validate→transform pipeline; returns output paths.

    ``bucketed_validated=True`` materializes the validated zone as
    catalog tables ``bucketBy(order_id)`` (ROADMAP r4 #2, batch half):
    the J2 items⋈orders shuffle is paid once here, at write time, and
    every downstream KPI run against the zone joins Exchange-free
    (``sinks.files.write_validated_zone_bucketed``; plan shape asserted
    in tests/test_sources_bucketing.py, wall-clock payoff recorded in
    BASELINE.md).

    The bucketed zone defaults to the UNIFIED layout (ROADMAP r6 #3):
    ``partitionBy(order_year)`` UNDER the ``order_id`` buckets, in one
    write. Orders derive the year from ``order_date``; items — which
    carry no date of their own — pick it up via a join on the unique
    ``order_id`` (row-preserving: items already passed the J1
    semi-join against valid orders). Date-windowed readers then prune
    whole year directories statically on BOTH fact tables AND still
    join Exchange-free (``bench_scale.py`` ``year_kpi_*`` pair: 1.4×
    over raw at factor 30, widening with scan share). The grain is the
    YEAR deliberately — finer grains multiply (partitions × buckets)
    files; a month grain measured 2,700 files/table at factor 10
    (BASELINE.md). ``zone_partition_year=False`` restores the flat
    bucketed layout.

    ``zone_layout="zorder"`` (ROADMAP r6 #2) materializes the validated
    zone Morton-clustered instead (``sinks.files.write_zordered_zone``):
    orders on ``(order_date, user_id)``, items on ``(order_id,
    product_id)`` — the layout for SCAN-heavy deployments, where box
    probes on either clustered dimension (a date window × a user band,
    an order range × a product band) prune row groups that a
    single-column sort or a bucket layout cannot (pruning matrix in
    BASELINE.md). Mutually exclusive with ``bucketed_validated``: a
    table has ONE physical row order, and re-sorting by z-value inside
    buckets would break the sortBy metadata the Exchange-free join
    relies on. The per-table clustering domains come back in
    ``paths["zorder_domains"]`` so incremental writers can reuse them.
    """
    if zone_layout not in (None, "zorder"):
        raise ValueError(f"unknown zone_layout: {zone_layout!r}")
    if zone_layout == "zorder" and bucketed_validated:
        raise ValueError(
            "zone_layout='zorder' and bucketed_validated are mutually "
            "exclusive — one physical row order per table; pick the "
            "join-bound (bucketed) or scan-bound (zorder) layout"
        )
    require_inputs(raw_dir)  # S3 readiness gate
    raw = load_ecommerce_csv(spark, raw_dir)
    valid = validate.run_validation(raw["products"], raw["orders"], raw["order_items"])

    paths = {}
    if zone_layout == "zorder":
        vdir = os.path.join(out_dir, "validated")
        zcols = {
            "orders": ["order_date", "user_id"],
            "order_items": ["order_id", "product_id"],
        }
        domains: dict[str, dict] = {}
        for name, df in valid.items():
            dest = os.path.join(vdir, name)
            cols = zcols.get(name)
            if cols and all(c in df.columns for c in cols):
                domains[name] = write_zordered_zone(df, dest, cols)
            else:  # dimensions stay flat — nothing to cluster
                df.write.mode("overwrite").parquet(dest)
        paths["validated"] = vdir
        # JSON, not repr: callers must never eval() a returned string
        # (ADVICE r6); tuples become 2-element lists on the wire.
        paths["zorder_domains"] = json.dumps(
            {t: {c: list(d) for c, d in dd.items()} for t, dd in domains.items()}
        )
    elif materialize_validated or bucketed_validated:
        vdir = os.path.join(out_dir, "validated")
        if bucketed_validated:
            zone = dict(valid)
            partition_by = None
            if zone_partition_year and "order_date" in zone["orders"].columns:
                z_orders = zone["orders"].withColumn(
                    "order_year", F.date_format("order_date", "yyyy")
                )
                zone["orders"] = z_orders
                zone["order_items"] = zone["order_items"].join(
                    z_orders.select("order_id", "order_year"), "order_id"
                )
                partition_by = "order_year"
            tables = write_validated_zone_bucketed(
                zone, vdir, partition_by=partition_by
            )
            paths["validated_tables"] = ",".join(sorted(tables.values()))
        else:
            write_validated_zone(valid, vdir)
        paths["validated"] = vdir

    cat_sink = KeyedParquetUpsertSink(os.path.join(out_dir, "category_kpi"), "order_date")
    ord_sink = KeyedParquetUpsertSink(os.path.join(out_dir, "order_kpi"), "order_date")
    ts = run_ts or _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%d-T-%H:%M:%S")
    processed = os.path.join(out_dir, "processed")

    # Each KPI output (one row per date × category) feeds both its
    # upsert and the processed zone: persisted, it is computed once.
    # A plan cached while this conf is off keeps its pre-coalescing
    # shuffle width (512 tasks, ~100 files per write) instead of the
    # one or two partitions AQE picks for an output this small.
    cached_repartition = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(cached_repartition)
    spark.conf.set(cached_repartition, "true")
    kpis = {}
    try:
        kpis = {
            name: df.persist()
            for name, df in kpi.run_transformation(
                valid["products"], valid["orders"], valid["order_items"]
            ).items()
        }
        cat_sink.upsert(kpis["category_kpi"])
        ord_sink.upsert(kpis["order_kpi"])
        write_processed_zone(kpis, processed, ts)
    finally:
        spark.conf.set(cached_repartition, prev)
        for df in kpis.values():
            df.unpersist()
    paths["category_kpi"] = cat_sink.path
    paths["order_kpi"] = ord_sink.path
    paths["processed"] = os.path.join(processed, ts)

    if archive:
        # file list computed now, after all reads (not at import time)
        arch = os.path.join(out_dir, "archive", ts)
        os.makedirs(arch, exist_ok=True)
        for name in ("orders", "order_items"):
            src = os.path.join(raw_dir, name)
            if os.path.isdir(src):
                shutil.move(src, os.path.join(arch, name))
        paths["archive"] = arch
    return paths
