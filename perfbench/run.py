"""Benchmark entry point: one workload, one process, one closed-loop client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload kpi_stream --seed 1 --seconds 10 --trace 0

Workloads are described in ``workloads.py``. A run:

1. generates its inputs from ``--seed`` in a child process (cached on
   disk by seed and size under ``.perfbench_work/cache``; not timed);
2. sets up once, cold: from process start (the interpreter's imports
   of the program, the JVM launch) through the Spark session via
   ``session.get_spark`` (``local[<cpus>]`` through
   ``SPARK_GRAFT_CPUS``) to the end of the workload's warm-up
   operation, minus step 1. Then it runs the workload's untimed
   warm-up operations, if any;
3. runs operations back to back for ``--seconds`` (and at least the
   workload's minimum count), checking outputs as described in
   ``check.py``;
4. stops Spark, waits for the JVM to exit, and prints one JSON line
   (each operation's wall and CPU time go to standard error).

``--trace 0`` reports the end-to-end metrics:

* ``setup_s``: the cold set-up time (above);
* ``op_cpu_s``: median CPU time of one operation (an upload until its
  KPIs are committed, or one pass over the query mix), Spark JVM plus
  this Python process. Wall time per operation goes to standard error
  and, in a traced run, to ``trace.untraced_op_p50_s``: on a shared
  host it moves with the host's load by more than the bound;
* ``peak_rss_mb``: peak resident memory (high-water mark) of this
  Python process plus that of the Spark JVM and its live child
  processes (Python workers), read at the end of the window. The
  benchmark's generation and DuckDB checks run in child processes
  that are not counted.

``--trace 1`` alternates untraced and traced operations and reports
the per-layer metrics of ``workloads.PER_LAYER`` (medians over traced
operations; layers a workload never calls read 0), plus the tracing
overhead: traced minus untraced median operation time. The span list
is written to ``.perfbench_work/spans-<workload>-<seed>.json``.

All Spark, Python and JVM scratch space lives under
``.perfbench_work/run-<pid>``, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp and warehouse location into ``run_dir``; returns
    the Spark conf that does so for the JVM side."""
    tmp = os.path.join(run_dir, "tmp")
    jtmp = os.path.join(run_dir, "jvm_tmp")
    for d in (tmp, jtmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers inherit it
    tempfile.tempdir = tmp
    # no hsperfdata files in the system temp dir from any JVM started
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark_local"),
        # C1 only: a run lasts seconds, and C2's background compilation
        # would make operation times drift down across it instead of
        # measuring the program
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={run_dir} "
            "-XX:TieredStopAtLevel=1"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict[str, str]):
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.session import (
        get_spark,
    )

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _hwm_kb(pid: int) -> int:
    """Peak resident memory (VmHWM) of a live process, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # exited meanwhile
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, ())
    return out


def peak_rss_mb(spark) -> float:
    """This process's peak RSS plus the JVM's and its live children's."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kb += sum(_hwm_kb(p) for p in [jvm, *_descendants(jvm)])
    return kb / 1024.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def cpu_seconds(spark) -> float:
    """CPU time used so far by the Spark JVM and this Python process.
    Time the host takes the CPU away (steal) is not counted."""
    info = spark._jvm.java.lang.ProcessHandle.current().info()
    return info.totalCpuDuration().get().toNanos() / 1e9 + time.process_time()


def run(args: argparse.Namespace) -> dict:
    # the program and its dependencies must be importable from the
    # checkout; without them the run fails before printing a result
    sys.path.insert(0, REPO)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, workloads, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, workloads, run_dir: str) -> dict:
    conf = isolate(run_dir)
    w = workloads.WORKLOADS[args.workload](
        os.path.join(WORK, "cache"), os.path.join(run_dir, "work"), args.seed
    )
    t_gen = time.perf_counter()
    w.prepare()
    gen_s = time.perf_counter() - t_gen
    try:
        return _measure(args, workloads, w, conf, gen_s)
    finally:
        if w.spark is not None:
            stop_jvm(w.spark)


def _measure(args, workloads, w, conf: dict[str, str], gen_s: float) -> dict:
    t1 = time.perf_counter()
    w.spark = start_session(conf)
    session_start = time.perf_counter() - t1
    w.warmup()
    # counted from process start, minus input generation
    setup = time.perf_counter() - T_PROCESS - gen_s
    w.settle()
    spark = w.spark

    attempted = failed = 0
    errors: list[str] = []

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        workloads.install_layer_patches(tracer)

    phases: dict[str, float] = {"gen_s": gen_s, "session_start_s": session_start}

    def run_checks() -> None:
        nonlocal attempted, failed
        t0 = time.perf_counter()
        checks = w.check(tracer)
        phases["check_s"] = time.perf_counter() - t0
        for name, problem in checks:
            attempted += 1
            if problem:
                failed += 1
                errors.append(f"check {name}: {problem}")

    if w.check_first:
        run_checks()

    min_ops = w.min_ops_traced if args.trace else w.min_ops
    ops: list[dict] = []
    t_end = time.perf_counter() + args.seconds
    i = 0
    while (time.perf_counter() < t_end or len(ops) < min_ops) and not w.exhausted(i):
        traced = tracer is not None and i % 2 == 1
        if tracer:
            tracer.enabled = traced
            tracer.op = f"op{i}"
        attempted += 1
        cpu0 = cpu_seconds(spark)
        try:
            rec = w.op(i, tracer if traced else None)
            rec["cpu"] = cpu_seconds(spark) - cpu0
        except Exception as exc:
            rec = {"wall": None, "error": f"raised {type(exc).__name__}: {exc}"}
            traceback.print_exc(file=sys.stderr)
        rec["op"], rec["traced"] = f"op{i}", traced
        if rec["error"]:
            failed += 1
            errors.append(f"op{i}: {rec['error']}")
        ops.append(rec)
        i += 1

    # before the checks, which may run more Spark work in a traced run
    rss = None if tracer else peak_rss_mb(spark)
    if not w.check_first:
        # traced too: the stream's check holds its one batch pipeline run
        if tracer:
            tracer.enabled = True
            tracer.op = "check"
        with w.root_span(tracer):
            run_checks()

    good = [r for r in ops if not r["error"]]
    if tracer:
        tracer.enabled = False
        tracer.drain()
        traced_ops = [r for r in good if r["traced"]]
        per_op = [w.layer_metrics(tracer, r["op"], r) for r in traced_ops]
        values = {
            name: median(m[name] for m in per_op if name in m)
            for name in workloads.PER_LAYER
        }
        values |= w.run_layer_metrics(ops, tracer)
        values["session.start_s"] = session_start
        t_traced = median(r["wall"] for r in traced_ops)
        t_plain = median(r["wall"] for r in good if not r["traced"])
        values |= {
            "trace.op_p50_s": t_traced,
            "trace.untraced_op_p50_s": t_plain,
            "trace.overhead_s": t_traced - t_plain,
        }
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, unit in workloads.PER_LAYER.items()
        }
        tracer.restore()
        with open(os.path.join(WORK, f"spans-{w.name}-{args.seed}.json"), "w") as f:
            json.dump(tracer.dump(), f)
    else:
        metrics = {
            "op_cpu_s": {"value": median(r["cpu"] for r in good), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "setup_s": {"value": setup, "unit": "s"},
        }
    for e in errors:
        print(e, file=sys.stderr)
    print(
        json.dumps({
            "workload": w.name, "ops": len(ops), "setup_s": setup,
            "op_walls_s": [r["wall"] for r in ops],
            "op_cpu_s": [r.get("cpu") for r in ops],
            "phases": phases,
        }),
        file=sys.stderr,
    )
    return {
        "correct": failed == 0 and bool(good),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
