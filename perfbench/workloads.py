"""The benchmark's workloads: one closed-loop client each.

* ``kpi_stream``: a generated raw zone delivered as day-by-day uploads.
  The set-up loads ``HISTORY_DAYS`` days and triggers once, so every
  measured upload re-reads a grown history. One operation = one upload
  followed by ``streaming.run_event_driven_pipeline`` (``availableNow``),
  timed from the moment the upload's files are closed until the call
  returns with its KPIs committed.
* ``query_mix``: one analyst client looping over registered queries
  (reporting and LLM-data tier) at a generated sf0.01 table set, each
  forced through the noop sink; one operation = one pass.

Each workload provides ``prepare`` (generate or reuse inputs, untimed),
``warmup`` (the operation that ends the set-up), ``settle`` (untimed
warm-up operations after it), ``op`` (one measured operation),
``check`` (output checks, untimed) and ``layer_metrics`` (per-layer
numbers from the traced operations). Input generation and the DuckDB
side of the checks run in child processes (:func:`in_child`).
"""

from __future__ import annotations

import functools
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

import check
import gen
from tracing import Tracer, catalyst_phase_ms

PKG = "real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark"

#: raw-zone size: ~1k orders and ~2.5k items per day, 10k products
RAW_ORDERS = 36_000
RAW_DAYS = 36
#: days in the zone before the first measured upload; the set-up's
#: trigger processes them as one micro-batch
HISTORY_DAYS = 24
#: untimed uploads between the set-up and the measured window
WARM_UPLOADS = 2
#: scale factor of the generated TPC-H-ish tables for the query mix
MIX_SF = 0.01

#: reporting queries, then LLM-data-tier queries (the latter reach the
#: similarity / dedup / text operators through the registry)
MIX_QUERIES = (
    "category_kpi", "top_customers", "sessionize",
    "decontaminate_spans", "bm25_search_state",
)

_COMMON = {
    "session.start_s": "s",
    "sources.resolve_s": "s",
    "sources.resolve_jobs": "count",
    "operators.validate.build_s": "s",
    "operators.kpi.build_s": "s",
    "operators.llm.build_s": "s",
    "pipeline_batch.self_s": "s",
    "sinks.kv.upsert_s": "s",
    "sinks.kv.files_written": "count",
    "sinks.kv.bytes_written": "bytes",
    "sinks.files.processed_write_s": "s",
    "sinks.files.files_written": "count",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.executor_run_ms": "ms",
    "exec.spill_bytes": "bytes",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.start_stop_s": "s",
    "streaming.jobs_per_upload": "count",
    "streaming.source_rows_per_upload_row": "ratio",
    "streaming.input_bytes_per_upload_byte": "ratio",
    "streaming.latency_slope_ms_per_upload": "ms",
    "streaming.checkpoint_files": "count",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s",
}
_PER_QUERY = {
    "queries.{q}.build_s": "s",
    "queries.{q}.build_jobs": "count",
    "catalyst.{q}.plan_ms": "ms",
    "exec.{q}.exec_s": "s",
    "exec.{q}.tasks": "count",
    "exec.{q}.shuffle_write_bytes": "bytes",
}
PER_LAYER: dict[str, str] = dict(_COMMON)
for _q in MIX_QUERIES:
    PER_LAYER |= {k.format(q=_q): u for k, u in _PER_QUERY.items()}

#: LLM-tier operator modules; their functions the registry calls are
#: traced as one layer
_LLM_MODULES = ("similarity", "dedup", "text", "ml", "curation")


_CHILD = """
import pickle, sys
sys.path[:0] = pickle.load(sys.stdin.buffer)
fn, args = pickle.load(sys.stdin.buffer)
with open(sys.argv[1], "wb") as f:
    pickle.dump(fn(*args), f)
"""


def in_child(fn, *args):
    """``fn(*args)`` in a fresh Python process, waited for, so the
    benchmark's own generation and DuckDB work never count in the
    client's memory or set-up time. ``fn`` must be importable."""
    out = os.path.join(tempfile.gettempdir(), f"child-{time.monotonic_ns()}.pickle")
    payload = pickle.dumps(sys.path) + pickle.dumps((fn, args))
    proc = subprocess.run([sys.executable, "-c", _CHILD, out], input=payload)
    if proc.returncode:
        raise RuntimeError(f"{fn.__name__} failed in its child process")
    with open(out, "rb") as f:
        result = pickle.load(f)
    os.remove(out)
    return result


def _mod(name: str):
    """A module of the program under test, imported on first use (the
    benchmark's own modules import without it)."""
    import importlib

    return importlib.import_module(f"{PKG}.{name}")


def _exec_layers(stats: dict[str, float]) -> dict[str, float]:
    return {f"exec.{k}": v for k, v in stats.items() if f"exec.{k}" in PER_LAYER}


def _files(path: str, since: float = 0.0) -> tuple[int, int]:
    """(count, bytes) of data files under ``path`` modified at or after
    ``since`` (epoch seconds); Spark's ``_SUCCESS`` / ``.crc`` markers
    are not data."""
    n = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size


def _kv_written(out_dir: str, since: float) -> dict[str, float]:
    """Data files and bytes the KPI sinks under ``out_dir`` wrote since
    ``since``."""
    kv = [_files(os.path.join(out_dir, t), since) for t in ("category_kpi", "order_kpi")]
    return {
        "sinks.kv.files_written": float(sum(n for n, _ in kv)),
        "sinks.kv.bytes_written": float(sum(b for _, b in kv)),
    }


def install_layer_patches(tracer: Tracer) -> None:
    """Patch each layer's public functions where the program looks
    them up."""
    queries = _mod("queries")
    pipeline_batch = _mod("pipeline_batch")
    stream = _mod("streaming.pipeline")
    validate = _mod("operators.validate")
    kpi = _mod("operators.kpi")

    tracer.patch(pipeline_batch, "run", "pipeline_batch")
    tracer.patch(stream, "run_event_driven_pipeline", "streaming")
    tracer.patch(queries, "load_testdata", "sources")
    tracer.patch(pipeline_batch, "load_ecommerce_csv", "sources")
    tracer.patch(stream, "load_ecommerce_csv", "sources")
    tracer.patch(pipeline_batch, "write_processed_zone", "sinks.files")
    tracer.patch(_mod("sinks.kv").KeyedParquetUpsertSink, "upsert", "sinks.kv")
    for mod, layer in ((validate, "operators.validate"), (kpi, "operators.kpi")):
        for name in _public_functions(mod):
            tracer.patch(mod, name, layer)
    with open(queries.__file__, encoding="utf-8") as f:
        src = f.read()
    for mod_name in _LLM_MODULES:
        mod = _mod(f"operators.{mod_name}")
        for name in _public_functions(mod):
            if f"{mod_name}.{name}(" in src:
                tracer.patch(mod, name, "operators.llm")


def _public_functions(mod) -> list[str]:
    return [
        n for n, v in vars(mod).items()
        if callable(v) and not n.startswith("_") and not isinstance(v, type)
        and getattr(v, "__module__", None) == mod.__name__
    ]


class Workload:
    name = ""
    #: run the output checks before the measured window, not after
    check_first = False
    #: operations a run makes at least, untraced / traced
    min_ops = 2
    min_ops_traced = 4

    def __init__(self, cache_dir: str, run_dir: str, seed: int) -> None:
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.seed = seed
        self.spark = None

    def exhausted(self, i: int) -> bool:
        return False

    def settle(self) -> None:
        """Untimed warm-up after the set-up."""

    def run_layer_metrics(self, ops: list[dict], tracer: Tracer) -> dict[str, float]:
        """Per-layer numbers that belong to the whole run, not one
        operation."""
        return {}

    def root_span(self, tracer: Tracer | None):
        """The span every traced operation's jobs are counted under."""
        return tracer.span("op") if tracer else nullcontext()

    def op_exec(self, tracer: Tracer, op: str, extra_jobs=()) -> dict[str, float]:
        """Spark counters of every job the operation started."""
        jobs = set(tracer.layer_jobs(tracer.op_spans(op), "op")) | set(extra_jobs)
        return tracer.job_stats(sorted(jobs))

    def common_layers(self, tracer: Tracer, op: str) -> dict[str, float]:
        spans = tracer.op_spans(op)
        return {
            "sources.resolve_s": tracer.layer_time(spans, "sources"),
            "sources.resolve_jobs": float(len(tracer.layer_jobs(spans, "sources"))),
            "operators.validate.build_s": tracer.layer_time(spans, "operators.validate"),
            "operators.kpi.build_s": tracer.layer_time(spans, "operators.kpi"),
            "operators.llm.build_s": tracer.layer_time(spans, "operators.llm"),
            "pipeline_batch.self_s": tracer.layer_self_time(spans, "pipeline_batch"),
            "sinks.kv.upsert_s": tracer.layer_time(spans, "sinks.kv"),
            "sinks.files.processed_write_s": tracer.layer_time(spans, "sinks.files"),
        }


class KpiStream(Workload):
    name = "kpi_stream"
    #: a fixed count for the ~10 s window, so that a run that fits
    #: fewer uploads does not report a median over fewer of them
    min_ops = 5

    def prepare(self) -> None:
        self.src = in_child(
            gen.cached, self.cache_dir, f"raw-{self.seed}-{RAW_ORDERS}-{RAW_DAYS}",
            functools.partial(
                gen.build_raw_zone, seed=self.seed, n_orders=RAW_ORDERS,
                span_days=RAW_DAYS,
            ),
        )
        self.schedule = gen.upload_schedule(self.src)

    def _fresh_zone(self) -> None:
        base = os.path.join(self.run_dir, "zone")
        self.raw = os.path.join(base, "raw")
        self.out = os.path.join(base, "out")
        self.ckpt = os.path.join(base, "ckpt")
        for sub in ("orders", "order_items"):
            os.makedirs(os.path.join(self.raw, sub))
        shutil.copyfile(
            os.path.join(self.src, "products.csv"),
            os.path.join(self.raw, "products.csv"),
        )
        self.day = 0

    def _upload(self) -> tuple[int, int]:
        """Copy the next day's files into the raw zone; returns (item
        rows, bytes) of the upload."""
        up = self.schedule[self.day]
        self.day += 1
        rows = size = 0
        for rel in up["orders"] + up["order_items"]:
            dest = os.path.join(self.raw, rel)
            shutil.copyfile(os.path.join(self.src, rel), dest)
            size += os.path.getsize(dest)
            if rel.startswith("order_items"):
                with open(dest, "rb") as f:
                    rows += sum(1 for _ in f) - 1
        return rows, size

    def _trigger(self):
        return _mod("streaming.pipeline").run_event_driven_pipeline(
            self.spark, self.raw, self.out, self.ckpt
        )

    def warmup(self) -> None:
        self._fresh_zone()
        for _ in range(HISTORY_DAYS):
            self._upload()
        self._trigger()

    def settle(self) -> None:
        for _ in range(WARM_UPLOADS):
            self._upload()
            self._trigger()

    def exhausted(self, i: int) -> bool:
        return self.day >= len(self.schedule)

    def op(self, i: int, tracer: Tracer | None) -> dict:
        rows, size = self._upload()
        t_wall = time.time()
        t0 = time.perf_counter()
        with self.root_span(tracer):
            q = self._trigger()
        rec = {"wall": time.perf_counter() - t0, "error": "", "index": i}
        if tracer:
            progress = [p for p in q.recentProgress if p.numInputRows]

            def dur(phase: str) -> float:
                return float(sum(p.durationMs.get(phase, 0) for p in progress))

            run_jobs = tracer.jobs_in_group(str(q.runId))
            rec |= {
                "run_jobs": run_jobs,
                "layers": {
                    "streaming.latest_offset_ms": dur("latestOffset"),
                    "streaming.get_batch_ms": dur("getBatch"),
                    "streaming.wal_commit_ms": dur("walCommit"),
                    "streaming.query_planning_ms": dur("queryPlanning"),
                    "streaming.add_batch_ms": dur("addBatch"),
                    "streaming.commit_offsets_ms": dur("commitOffsets"),
                    "streaming.start_stop_s": rec["wall"] - dur("triggerExecution") / 1000,
                    "streaming.source_rows_per_upload_row": (
                        sum(p.numInputRows for p in progress) / rows if rows else 0.0
                    ),
                } | _kv_written(self.out, t_wall),
                "upload_bytes": size,
            }
        return rec

    def layer_metrics(self, tracer: Tracer, op: str, rec: dict) -> dict[str, float]:
        ex = self.op_exec(tracer, op, rec["run_jobs"])
        out = self.common_layers(tracer, op) | _exec_layers(ex)
        out["streaming.jobs_per_upload"] = ex["jobs"]
        out["streaming.input_bytes_per_upload_byte"] = ex["input_bytes"] / rec["upload_bytes"]
        return out | rec["layers"]

    def run_layer_metrics(self, ops: list[dict], tracer: Tracer) -> dict[str, float]:
        """History growth: slope of untraced upload latency over the
        upload index (least squares), and the checkpoint's file count.
        The batch pipeline and the processed-zone sink are measured on
        the traced check's batch run over the uploaded zone."""
        pts = [(r["index"], r["wall"]) for r in ops if not r["traced"] and not r["error"]]
        slope = 0.0
        if len(pts) >= 2:
            mx = statistics.mean(x for x, _ in pts)
            my = statistics.mean(y for _, y in pts)
            den = sum((x - mx) ** 2 for x, _ in pts)
            slope = sum((x - mx) * (y - my) for x, y in pts) / den * 1000 if den else 0.0
        spans = tracer.op_spans("check")
        processed = os.path.join(self.run_dir, "batch_check", "processed")
        return {
            "streaming.latency_slope_ms_per_upload": slope,
            "streaming.checkpoint_files": float(_files(self.ckpt)[0]),
            "pipeline_batch.self_s": tracer.layer_self_time(spans, "pipeline_batch"),
            "sinks.files.processed_write_s": tracer.layer_time(spans, "sinks.files"),
            "sinks.files.files_written": float(_files(processed)[0]),
        }

    def check(self, tracer: Tracer | None = None) -> list[tuple[str, str | None]]:
        """The stream's final tables must equal the DuckDB mirror of the
        uploaded zone. A traced run also runs the batch pipeline over
        the same zone (its layers are measured there) and requires the
        stream's tables to equal the batch tables, and those the mirror."""
        batch_out = None
        if tracer is not None:
            batch_out = os.path.join(self.run_dir, "batch_check")
            _mod("pipeline_batch").run(self.spark, self.raw, batch_out)
        return in_child(check.kpi_problems, self.raw, self.out, batch_out)


class QueryMix(Workload):
    name = "query_mix"
    min_ops_traced = 2
    #: the checks run every query once, so they double as its warm-up
    check_first = True

    def prepare(self) -> None:
        self.data = in_child(
            gen.cached, self.cache_dir, f"tpch-{self.seed}-{MIX_SF}",
            functools.partial(gen.build_tpch, seed=self.seed, sf=MIX_SF),
        )

    def _queries(self):
        import __spark_entry__ as entry

        return entry.queries(), entry.oracle_sql()

    def warmup(self) -> None:
        qs, _ = self._queries()
        qs[MIX_QUERIES[0]](self.spark, self.data).write.format("noop").mode("overwrite").save()

    def settle(self) -> None:
        # pass times still fall over the first passes after the checks
        self.op(-1, None)

    def op(self, i: int, tracer: Tracer | None) -> dict:
        qs, _ = self._queries()
        plan_ms = {}
        t0 = time.perf_counter()
        with self.root_span(tracer):
            for q in MIX_QUERIES:
                if tracer is None:
                    qs[q](self.spark, self.data).write.format("noop").mode("overwrite").save()
                    continue
                with tracer.span(f"queries.{q}.build"):
                    df = qs[q](self.spark, self.data)
                # traced runs plan the query once more, on its own
                # QueryExecution, to read Catalyst's phase times
                with tracer.span(f"catalyst.{q}"):
                    plan_ms[q] = sum(catalyst_phase_ms(df).values())
                with tracer.span(f"exec.{q}"):
                    df.write.format("noop").mode("overwrite").save()
        return {"wall": time.perf_counter() - t0, "error": "", "plan_ms": plan_ms}

    def layer_metrics(self, tracer: Tracer, op: str, rec: dict) -> dict[str, float]:
        spans = tracer.op_spans(op)
        out = self.common_layers(tracer, op) | _exec_layers(self.op_exec(tracer, op))
        for q in MIX_QUERIES:
            build, exe = f"queries.{q}.build", f"exec.{q}"
            ex = tracer.job_stats(tracer.layer_jobs(spans, exe))
            out |= {
                f"{build}_s": tracer.layer_time(spans, build),
                f"{build}_jobs": float(len(tracer.layer_jobs(spans, build))),
                f"catalyst.{q}.plan_ms": rec["plan_ms"][q],
                f"{exe}.exec_s": tracer.layer_time(spans, exe),
                f"{exe}.tasks": ex["tasks"],
                f"{exe}.shuffle_write_bytes": ex["shuffle_write_bytes"],
            }
        return out

    def check(self, tracer: Tracer | None = None) -> list[tuple[str, str | None]]:
        """Every mix query against its DuckDB oracle (also warms each
        query before the measured window)."""
        qs, oracles = self._queries()
        results, raised = {}, {}
        for q in MIX_QUERIES:
            try:
                results[q] = qs[q](self.spark, self.data).toPandas()
            except Exception as exc:  # a raising query is a failed check
                raised[q] = f"raised {type(exc).__name__}: {exc}"
        problems = in_child(check.query_problems, self.data, oracles, results) | raised
        return [(q, problems[q]) for q in MIX_QUERIES]


WORKLOADS = {w.name: w for w in (KpiStream, QueryMix)}
