#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload export_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (wiped first), the session is set up three
times (the median is ``setup_s``), one verified cycle warms the JIT,
then cycles repeat for ``--seconds`` with one operation in flight.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (a separate run: an untraced
cycle, then a traced one, with Spark's event log on). The line before
it, ``{"detail": ...}``, carries every workload-specific figure with
its unit. Exit status is 0 only when every output check passed.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("export_sync", "analytics_mix")
END_TO_END = ("setup_s", "cycle_s")
SETUP_REPEATS = 3
ANALYTICS_SCALE = 4  # fixture-table scale (orders = 1 500 x scale)
LAYERS = ("session", "io", "etl", "ledger_sink", "ledger", "plans", "functions")
# Per-layer metrics as (name, unit, better), in BENCHMARK.json order; a
# metric a workload does not exercise reads 0.
_QUERIES = (
    "groupby_multi_agg", "inner_join", "rollup", "topk_per_group", "lag_lead",
    "large_orders", "triangle_count", "tfidf", "bm25",
)
PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("session.warm_session_s", "s", "lower"),
    ("io.read_json_s", "s", "lower"),
    ("io.read_json_records", "count", "higher"),
    ("io.read_json_corrupt_records", "count", "lower"),
    ("io.write_bulkrax_csv_s", "s", "lower"),
    ("io.write_bulkrax_csv_bytes", "bytes", "lower"),
    ("etl.eprints_to_bulkrax_s", "s", "lower"),
    ("etl.unmapped_subjects_report_s", "s", "lower"),
    ("etl.null_main_documents_s", "s", "lower"),
    ("etl.rows_out_per_record", "ratio", "higher"),
    ("ledger_sink.merge_batch_s", "s", "lower"),
    ("ledger_sink.redelivered_skipped", "count", "higher"),
    ("ledger.create_s", "s", "lower"),
    ("ledger.merge_s", "s", "lower"),
    ("ledger.groups_rewritten_per_merge", "groups", "lower"),
    ("ledger.merge_write_amplification", "B/B", "lower"),
    ("ledger.commit_retries", "count", "lower"),
    ("ledger.delete_where_s", "s", "lower"),
    ("ledger.compact_s", "s", "lower"),
    ("ledger.read_s", "s", "lower"),
    ("ledger.groups_scanned_per_lookup", "groups", "lower"),
    ("ledger.key_overlap", "ratio", "lower"),
    ("ledger.manifest_bytes_per_commit", "bytes", "lower"),
    ("functions.memo_build_s", "s", "lower"),
    ("functions.copurchase_build_s", "s", "lower"),
    ("functions.grams_build_s", "s", "lower"),
    *[(f"plans.{q}_s", "s", "lower") for q in _QUERIES],
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.output_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.cpu_busy_share", "ratio", "higher"),
    *[
        (f"spark.{layer}.{c}", u, "lower") for layer in LAYERS
        for c, u in (("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"))
    ],
    ("trace.wall_s", "s", "lower"),
    ("trace.untraced_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.self_sum_s", "s", "lower"),
    ("trace.staging_s", "s", "lower"),
    ("trace.unattributed_s", "s", "lower"),
]


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    work directory, and pin the process timezone to UTC."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR


def _machine() -> tuple[int, str]:
    """(cores, driver memory): all usable cores, and a heap of a quarter
    of physical RAM capped at 2 GiB. The working sets are tens of MB; a
    small cap keeps the JVM's heap growth, and so peak RSS, repeatable
    and leaves the rest of a shared machine alone."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    mem_mb = max(1024, min(2048, total_kb // 1024 // 4))
    return cores, f"{mem_mb}m"


def _setup(session, cores, mem, tables_dir, event_dir):
    """get_spark + warm_session, SETUP_REPEATS times (stopping the
    session in between); the last session is returned live. With an
    event-log dir, the last session is built with the event log on."""
    runs = []
    spark = None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        last = i == SETUP_REPEATS - 1
        extra = None
        if last and event_dir is not None:
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name="perfbench", cpus=cores, driver_memory=mem, extra_conf=extra
        )
        t1 = time.perf_counter()
        if last and event_dir is not None:
            spark.sparkContext.setJobGroup("session.warm_session", "warm")
        session.warm_session(spark, tables_dir)
        t2 = time.perf_counter()
        runs.append({"get_spark_s": t1 - t0, "warm_session_s": t2 - t1})
    return spark, runs


def _spark_counts(event_dir, app_id, tracer, wall_s, cores) -> dict:
    """Workload- and layer-level counters from the event log, over the
    job groups of the traced cycle's spans (staging and glue jobs are
    tracing overhead and excluded)."""
    import spans

    path = os.path.join(event_dir, app_id)
    with open(path) as fh:
        groups = spans.parse_event_log(fh)
    cycle_groups = {
        g: b for g, b in groups.items()
        if g in tracer.seconds and g != "staging"
    }
    out = {}
    total = spans.rollup(cycle_groups)
    for c in spans.COUNTERS:
        out[f"spark.{c}"] = total[c]
    out["spark.task_skew"] = spans.task_skew(total["longest_stage_task_s"])
    out["spark.cpu_busy_share"] = total["executor_run_s"] / (wall_s * cores)
    for layer in LAYERS:
        mine = {
            g: b for g, b in groups.items() if g.split(".", 1)[0] == layer
            and (g in cycle_groups or layer == "session")
        }
        part = spans.rollup(mine)
        for c in ("stages", "tasks", "executor_run_s"):
            out[f"spark.{layer}.{c}"] = part[c]
    return out


def main(argv=None) -> int:
    args = _args(argv)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        import generate
        from eprints_to_hyku_data_tool_spark import session
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    marks = [time.perf_counter()]
    cores, mem = _machine()
    tables_dir = os.path.join(work, "tables")
    table_bytes = generate.write_tables(
        generate.analytics_tables(args.seed, ANALYTICS_SCALE), tables_dir
    )
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    spark = None
    try:
        marks.append(time.perf_counter())
        spark, setup_runs = _setup(session, cores, mem, tables_dir, event_dir)
        marks.append(time.perf_counter())
        detail, result = _measure(args, spark, setup_runs, work, tables_dir, cores)
        marks.append(time.perf_counter())
    finally:
        # Also on a crash: stop the session and the JVM, and wait for it.
        if spark is not None:
            spark.stop()
        _shutdown_gateway()
    marks.append(time.perf_counter())
    # Where a run's time goes (the timed region is only part of it).
    detail["phases_s"] = dict(zip(
        ("fixture_tables", "setups", "workload", "shutdown"),
        (b - a for a, b in zip(marks, marks[1:])),
    ))
    detail["machine"] = {"cores": cores, "driver_memory": mem}
    detail["inputs"]["fixture_table_bytes"] = table_bytes
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _measure(args, spark, setup_runs, work, tables_dir, cores):
    """Check, then time, one workload on a live session; returns the
    detail object and the result line."""
    import measure
    import spans
    import workloads

    sc = spark.sparkContext
    sc.setJobGroup(spans.GLUE, spans.GLUE)
    jvm_pid = sc._jvm.ProcessHandle.current().pid()
    app_id = sc.applicationId
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "loop": "closed, 1 client, 1 operation in flight",
        "master": sc.master, "defaultParallelism": sc.defaultParallelism,
        "setup_runs": setup_runs,
    }
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tables_dir)
    t_prepare = time.perf_counter()
    detail["inputs"] = wl.prepare()
    detail["prepare_s"] = time.perf_counter() - t_prepare

    correct, failed, errors = True, 0, []
    ops: list[tuple[str, float]] = []
    off = spans.Tracer(sc, enabled=False)
    tracer = spans.Tracer(sc, enabled=True)
    try:
        t_check = time.perf_counter()
        wl.check()
        detail["check_s"] = time.perf_counter() - t_check
        if args.trace:
            t0 = time.perf_counter()
            wl.cycle(off)
            untraced_wall = time.perf_counter() - t0
            t0 = time.perf_counter()
            ops = wl.cycle(tracer)
            wall = time.perf_counter() - t0
            sc.setJobGroup(spans.GLUE, spans.GLUE)
        else:
            cycle_s, cycle_cpu_s = [], []
            t0 = time.perf_counter()
            while True:
                c0 = time.perf_counter()
                cpu0 = measure.tree_cpu_s(os.getpid())
                try:
                    done = wl.cycle(off)
                    ops += done
                    # The cycle's busy time: its operations, not the
                    # benchmark's resets between them.
                    cycle_s.append(sum(secs for _, secs in done))
                except workloads.CheckFailed:
                    raise
                except Exception as exc:  # an operation failed: count it, go on
                    failed += 1
                    errors.append(repr(exc))
                    traceback.print_exc()
                now = time.perf_counter()
                cycle_cpu_s.append(measure.tree_cpu_s(os.getpid()) - cpu0)
                if now - t0 + (now - c0) > args.seconds:
                    break
            wall = time.perf_counter() - t0
        wl.final_check()
    except workloads.CheckFailed as exc:
        correct = False
        errors.append(f"check failed: {exc}")
        traceback.print_exc()

    rss_py, rss_jvm = measure.peak_rss_mb(os.getpid()), measure.peak_rss_mb(jvm_pid)
    attempted = len(ops) + failed
    e2e = {
        "setup_s": {
            "value": statistics.median(
                r["get_spark_s"] + r["warm_session_s"] for r in setup_runs
            ),
            "unit": "s",
        },
        "peak_rss_mb": {
            "value": rss_py + rss_jvm, "unit": "MiB", "python": rss_py, "jvm": rss_jvm,
        },
        "error_rate": {"value": failed / max(1, attempted), "unit": "ratio"},
    }
    detail["errors"] = errors
    metrics: dict = {}
    if correct and ops:
        kinds = [k for k in wl.op_kinds if any(kk == k for kk, _ in ops)]
        medians = {
            k: statistics.median([s for kk, s in ops if kk == k]) for k in kinds
        }
        detail["op_kind_median_s"] = medians
        e2e["wall_s"] = {"value": wall, "unit": "s"}
        e2e.update(wl.detail(ops))
        if args.trace:
            spark.stop()  # flushes and closes the event log
            layer = wl.layer_metrics(tracer)
            layer.update(_trace_totals(tracer, setup_runs, wall, untraced_wall))
            layer.update(_spark_counts(
                os.path.join(work, "eventlog"), app_id, tracer, wall, cores
            ))
            metrics = {
                name: {"value": layer.get(name, 0), "unit": unit}
                for name, unit, _ in PER_LAYER
            }
        else:
            e2e["cycle_s"] = {
                "value": statistics.median(cycle_s), "unit": "s", "samples": cycle_s,
            }
            e2e["cycle_cpu_s"] = {
                "value": statistics.median(cycle_cpu_s), "unit": "s",
                "samples": cycle_cpu_s,
            }
            e2e["op_geomean_ms"] = {
                "value": measure.geomean(list(medians.values())) * 1000.0,
                "unit": "ms",
            }
            metrics = {
                name: {"value": e2e[name]["value"], "unit": e2e[name]["unit"]}
                for name in END_TO_END
            }
    detail["end_to_end"] = e2e
    ok = correct and bool(metrics)
    return detail, {
        "correct": ok, "attempted": max(1, attempted), "failed": failed,
        "metrics": metrics,
    }


def _trace_totals(tracer, setup_runs, wall, untraced_wall) -> dict:
    """Set-up medians and the self-time accounting of the traced cycle."""
    self_sum = sum(v for k, v in tracer.self_seconds.items() if k != "staging")
    staging = tracer.self_seconds.get("staging", 0.0)
    return {
        "session.get_spark_s": statistics.median(r["get_spark_s"] for r in setup_runs),
        "session.warm_session_s": statistics.median(
            r["warm_session_s"] for r in setup_runs
        ),
        "trace.wall_s": wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": wall - untraced_wall,
        "trace.self_sum_s": self_sum,
        "trace.staging_s": staging,
        "trace.unattributed_s": wall - self_sum - staging,
    }


def _shutdown_gateway() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
