#!/usr/bin/env python3
"""Benchmark entry point: run one named workload from a seed and print
its metrics.

    python3 perfbench/run.py --workload scd2_daily --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Inputs are generated from
``--seed`` before timing starts; the closed loop then times a fixed
number of operations, about ``--seconds`` worth on a 4-vCPU host (see
each workload's ``timed_ops``); outputs are checked for correctness. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from a run with spans and Spark
status-store reads) with ``--trace 1``. The line before it holds the
run's details: input properties, every operation's latency, checks and
failures.

Spark runs ``local[<nproc>]`` with the driver memory sized to the host;
everything the run writes stays under ``.perfbench-work/`` (deleted at
the end) and, for a traced run, ``.perfbench-traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# no tail latency: a run times 5 to 15 operations, and no percentile
# above the median has the 10 samples beyond it a tail figure needs
END_TO_END = {"setup_s": "s", "op_cpu_s": "s", "stored_bytes_per_row": "B"}

STAGES = ("SQLTransform", "DeltaLakeExtract", "DeltaLakeLoad", "DeltaLakeMergeLoad",
          "VersionedTableMaintenance", "ParquetExtract")
SPARK = ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "input_bytes", "driver_only_s")
LAYERS = ("bench", "engine", "versioned", "delta")


def per_layer_units() -> dict[str, str]:
    from workloads import SqlAnalytics

    # op.p50_s and read.p50_s: the operations' and the downstream reads'
    # median latency. On a busy shared host they spread over runs by
    # more than an end-to-end bound allows (see METRICS.md)
    u = {"session.get_spark_s": "s", "op.p50_s": "s", "read.p50_s": "s",
         "pipeline.run_s": "s", "pipeline.plan_s": "s"}
    u.update({f"stage.{s}.s": "s" for s in STAGES})
    for pre in ("versioned", "delta"):
        u.update({f"{pre}.{m}_s": "s" for m in ("merge", "write", "read", "compact")})
        u.update({f"{pre}.files_live": "count", f"{pre}.bytes_written_per_commit": "B"})
    u.update({"versioned.vacuum_s": "s", "versioned.files_added_per_commit": "count",
              "versioned.manifest_bytes": "B", "delta.changes_s": "s", "delta.vacuum_s": "s",
              "delta.log_commits_since_checkpoint": "count", "delta.checkpoints": "count"})
    u.update({f"query.{q}.s": "s" for q in SqlAnalytics.QUERIES})
    u.update({"caching.pins_per_op": "count", "dedup.pairs": "count",
              "dedup.injected_recall": "ratio",
              # peak RSS swings with JVM heap sizing by a quarter between
              # runs: too unsteady for a bounded end-to-end metric
              "mem.peak_rss_mb": "MB"})
    u.update({f"spark.{k}": ("s" if k.endswith("_s") else
                             "B" if k.endswith("bytes") else "count") for k in SPARK})
    u.update({f"self.{layer}_s": "s" for layer in LAYERS})
    # the tracing overhead is op.p50_s minus the op_p50_s an untraced
    # run with the same seed prints in its details line; trace.collect_s
    # is the status-store and table reads after each operation, outside
    # its timing
    u["trace.collect_s"] = "s"
    return u


def launcher_env(work: str) -> None:
    """Pin the environment the engine reads, so a run is the same from
    any working directory on any host size."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Python workers import the package from any working directory
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # no hsperfdata file: the JVM would write it under /tmp whatever
        # java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    import resource

    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:  # noqa: SLF001
        jvm_kb = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def cpu_s(spark) -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    children each has waited for (Python workers)."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/stat") as f:  # noqa: SLF001
        jvm = f.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (sum(int(x) for x in jvm[11:15]) / os.sysconf("SC_CLK_TCK")
            + t.user + t.system + t.children_user + t.children_system)


def p50(ops: list[dict], key: str) -> float:
    """Median of ``key`` over each kind of operation, averaged over the
    kinds: one kind on ``scd2_daily`` (a day), one per query on
    ``sql_analytics``, whose queries differ in cost, so a median over
    all of them would jump from one query's latency to another's."""
    by: dict[str, list[float]] = {}
    for r in ops:
        by.setdefault(r["name"], []).append(r[key])
    return statistics.mean(statistics.median(v) for v in by.values())


def _add(into: dict, frm: dict) -> None:
    for k, v in frm.items():
        into[k] = into.get(k, 0.0) + v


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched; wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "sql_based_etl_spark")):
        print(f"no sql_based_etl_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    launcher_env(work)
    os.chdir(work)
    sys.path.insert(0, ROOT)
    try:
        return run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from tracing import SparkStatus, Tracer, install
    from workloads import WORKLOADS

    from sql_based_etl_spark.session import get_spark

    tracer = Tracer()
    if args.trace:
        install(tracer)

    attempted = failed = 0
    ops: list[dict] = []
    collect_s = 0.0
    spark_tot: dict[str, float] = {}
    by_desc: dict[str, dict] = {}
    table_tot: dict[str, float] = {}
    traced_ids: set[int] = set()
    spark = None
    try:
        # set-up: process start (interpreter, imports, JVM launch) until
        # get_spark() has returned and a first trivial job has finished
        t1 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        get_spark_s = time.perf_counter() - t1
        spark.range(1).count()
        setup_s = time.perf_counter() - T_PROCESS

        wl = WORKLOADS[args.workload](work, args.seed, int(args.seconds))
        t_prep = time.perf_counter()
        wl.prepare()
        # the initial load is traced as op -1: its write is set-up work
        tracer.enabled = bool(args.trace)
        tracer.begin_op(-1)
        wl.setup(spark)
        tracer.enabled = False
        oks = wl.warmup()
        attempted += len(oks)
        failed += oks.count(False)
        prep_s = time.perf_counter() - t_prep
        if args.trace:
            wl.layer_counters()  # start the table-layout deltas here
            status = SparkStatus(spark)
        for i in range(wl.timed_ops()):
            tracer.enabled = bool(args.trace)
            tracer.begin_op(i)
            if args.trace:
                status.mark()
            wall0 = time.time()
            cpu0 = cpu_s(spark)
            attempted += 1
            try:
                with tracer.span("op", "bench"):
                    r = wl.op()
                r["cpu"] = cpu_s(spark) - cpu0
            except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                failed += 1
                continue
            finally:
                tracer.enabled = False
            failed += 0 if r["ok"] else 1
            ops.append(r)
            if args.trace:
                # outside the operation's own timing
                t_collect = time.perf_counter()
                traced_ids.add(i)
                tot, desc = status.collect(wall0, time.time())
                _add(spark_tot, tot)
                for d, kv in desc.items():
                    _add(by_desc.setdefault(d, {}), kv)
                _add(table_tot, wl.layer_counters())
                collect_s += time.perf_counter() - t_collect
        attempted += 1
        failed += 0 if wl.check() else 1
        end_counters = wl.end_counters() if args.trace else {}
        end_counters["mem.peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    if not ops:
        print("no operation completed", file=sys.stderr)
        return 1
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": wl.props, "ops": len(ops),
        "latencies_s": [[r["name"], round(r["latency"], 4)] for r in ops],
        "cpu_s": [round(r["cpu"], 3) for r in ops],
        "prepare_s": prep_s, "setup_s": setup_s, "op_p50_s": p50(ops, "latency"),
        "read_p50_s": p50(ops, "read"),
        "attempted": attempted, "failed": failed, "fail_ratio": failed / attempted,
        "problems": wl.problems[:10], "final": wl.final,
    }
    if args.trace:
        metrics = layer_metrics(tracer, ops, traced_ids, spark_tot, table_tot, end_counters)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["trace.collect_s"] = collect_s / max(1, len(traced_ids))
        units = per_layer_units()
        details["spark_by_job_description"] = by_desc
        os.makedirs(os.path.join(ROOT, ".perfbench-traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench-traces",
                                 f"{args.workload}-seed{args.seed}.json"),
                    {"details": details, "metrics": metrics})
    else:
        metrics = {
            "setup_s": setup_s,
            "op_cpu_s": p50(ops, "cpu"),
            "stored_bytes_per_row": wl.space,
        }
        units = END_TO_END
    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def layer_metrics(tracer, ops, traced_ops, spark_tot, table_tot,
                  end_counters) -> dict[str, float]:
    """Per-layer figures, per traced operation unless named otherwise."""
    m = {k: 0.0 for k in per_layer_units()}
    n = max(1, len(traced_ops))
    spans = tracer.span_totals(traced_ops)
    load = tracer.span_totals({-1})
    m["stage.DeltaLakeLoad.s"] = load.get("stage.DeltaLakeLoad", 0.0)
    m["pipeline.run_s"] = spans.get("pipeline.run", 0.0) / n
    m["pipeline.plan_s"] = sum(tracer.plan_s.get(i, 0.0) for i in traced_ops) / n
    for s in STAGES:
        if s != "DeltaLakeLoad":
            m[f"stage.{s}.s"] = spans.get(f"stage.{s}", 0.0) / n
    for pre in ("versioned", "delta"):
        m[f"{pre}.write_s"] = load.get(f"{pre}.write", 0.0)
        for op in ("merge", "read", "compact", "vacuum", "changes"):
            if f"{pre}.{op}_s" in m:
                m[f"{pre}.{op}_s"] = spans.get(f"{pre}.{op}", 0.0) / n
        commits = table_tot.get(f"{pre}.commits", 0.0)
        if commits:
            m[f"{pre}.bytes_written_per_commit"] = table_tot[f"{pre}.bytes_written"] / commits
            if f"{pre}.files_added_per_commit" in m:
                m[f"{pre}.files_added_per_commit"] = table_tot[f"{pre}.files_added"] / commits
    by_name: dict[str, list[float]] = {}
    for r in ops:
        by_name.setdefault(r["name"], []).append(r["latency"])
    for q, xs in by_name.items():
        if f"query.{q}.s" in m:
            m[f"query.{q}.s"] = statistics.median(xs)
    m.update(end_counters)
    for k in SPARK:
        m[f"spark.{k}"] = spark_tot.get(k, 0.0) / n
    for layer, v in tracer.self_times(traced_ops).items():
        m[f"self.{layer}_s"] = v / n
    m["op.p50_s"] = p50(ops, "latency")
    m["read.p50_s"] = p50(ops, "read")
    return m


if __name__ == "__main__":
    sys.exit(main())
