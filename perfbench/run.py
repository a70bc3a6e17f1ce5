#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload kv_write_mix --seed 1 --seconds 15 --trace 0

Run from the repository root.  The workload's inputs are generated from
``--seed`` into ``.perfbench/`` under the root (removed at exit), a
``local[N]`` Spark session is started (N = min(4, usable cores)), the
workload is set up, then measured for ``--seconds`` seconds with one
closed-loop client.  Every output is checked against an independent model
or oracle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The lines before it are a readable
report.  ``--trace 1`` also writes the spans and count tables to
``.perfbench/out/``.  Exits non-zero, printing no result, when the engine
package is not importable from the root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.common import median, tree_cpu_s  # noqa: E402

WORKLOADS = ("kv_write_mix", "pipeline_batch", "kv_read")

END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms"}
# measured in every run; bounded end-to-end metrics only where steady (see
# README.md), per-layer metrics of traced runs otherwise
FIGURES = {"setup_s": "s", "cpu_ms_per_op": "ms", "wall.op_p50_ms": "ms",
           "wall.ops_per_s": "1/s", "jvm.jit_cpu_ms_per_op": "ms", "process.peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit.  A metric
    of a layer the workload does not run reads 0."""
    from perfbench import batch
    from perfbench.tracer import LAYERS

    units = {
        "ddl.parse_ms": "ms", "session.sql_ms": "ms", "session.register_view_ms": "ms",
        "session.register_view_calls": "count", "catalog.get_table_calls": "count",
        "catalog.commits_per_write": "count", "catalog.commit_ms": "ms",
        "catalog.cas_retries": "count", "pruning.prune_ms": "ms",
        "pruning.files_kept_ratio": "ratio", "relation.append_ms": "ms",
        "relation.rewrite_ms": "ms", "relation.compact_ms": "ms",
        "relation.compactions": "count", "relation.live_files": "count",
        "relation.merge_read_share": "ratio", "relation.bytes_written_per_user_byte": "ratio",
        "relation.space_amp": "ratio", "spark.jobs_per_read": "count",
        "spark.jobs_per_insert": "count", "spark.jobs_per_update": "count",
        "spark.jobs_per_delete": "count", "spark.jobs_per_merge": "count",
        "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
        "spark.files_read_per_read": "count", "spark.exec_ms": "ms", "spark.idle_ms": "ms",
        "spark.task_s": "s", "spark.shuffle_bytes": "bytes", "py4j.calls_per_stmt": "count",
        "kv.read_p50_ms": "ms", "kv.write_p50_ms": "ms",
        "pipeline.build_s": "s", "pipeline.exec_s": "s", "pipeline.py4j_calls": "count",
    }
    for q in batch.QUERIES:
        units.update({f"pipeline.{q}.build_s": "s", f"pipeline.{q}.exec_s": "s",
                      f"pipeline.{q}.py4j_calls": "count"})
    units.update({f"self.{layer}_ms_per_op": "ms" for layer in LAYERS})
    units.update({"self.accounted_share": "ratio", "trace.overhead_share": "ratio"})
    units.update({k: u for k, u in FIGURES.items() if k not in END_TO_END})
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01,
                   help="input scale (0.01: 60k lineitem rows)")
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n): the highest percentile with at least ten
    samples above it, or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    xs = sorted(values)
    return 100.0 * (n - 10) / n, xs[n - 11], n


def peak_rss_mb(jvm_pid: int | None) -> float:
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


class Session:
    """The Spark session and scratch space of one run, all under ``work``."""

    def __init__(self, work: str, trace: bool) -> None:
        from pyspark.sql import SparkSession

        from spark_sql_on_hbase_spark.tuning import local_shuffle_confs

        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        # no /tmp/hsperfdata_* files from the launcher or the driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # executors import the engine for Python UDFs
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.cores = max(1, min(4, len(os.sched_getaffinity(0))))
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.driver.memory", "2g")
            # serial GC: parallel GC threads spin while a vCPU is descheduled,
            # and the spinning is charged to the run's CPU time
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    "-XX:-UseDynamicNumberOfCompilerThreads -XX:+UseSerialGC")
            .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
            .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if trace:
            b = b.config("spark.ui.retainedJobs", "20000").config(
                "spark.ui.retainedStages", "20000")
        for k, v in local_shuffle_confs(scratch_root=work).items():
            b = b.config(k, v)
        # CPU of this process and its descendants: the JVM is a child
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        self.spark = b.getOrCreate()
        self.start_s = time.perf_counter() - t0
        self.start_cpu_s = tree_cpu_s(os.getpid()) - c0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        gw = self.spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        try:
            gw.shutdown()
        except Exception:  # already closed by stop()
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    try:
        import spark_sql_on_hbase_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import batch, kv

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(work, exist_ok=True)
    sess = None
    try:
        sess = Session(work, bool(args.trace))
        run = batch.run if args.workload == "pipeline_batch" else kv.run
        res = run(sess, args, work)
        rss = peak_rss_mb(sess.jvm_pid)
    finally:
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)

    lat = [x for xs in res.latencies.values() for x in xs]
    n = max(1, len(lat))
    values = {
        "setup_s": sess.start_cpu_s + res.setup_s,
        "cpu_ms_per_op": 1000.0 * res.op_cpu_s,
        "wall.op_p50_ms": 1000.0 * median(lat),
        "wall.ops_per_s": len(lat) / res.loop_wall_s if res.loop_wall_s else 0.0,
        "jvm.jit_cpu_ms_per_op": 1000.0 * res.loop_jit_s / n,
        "process.peak_rss_mb": rss,
    }
    e2e = {k: (values[k], u) for k, u in END_TO_END.items()}
    res.layer.update({k: (values[k], u) for k, u in FIGURES.items() if k not in END_TO_END})
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"sf={args.sf} local[{sess.cores}]")
    print(f"session start: {sess.start_s:.4f} s wall, {sess.start_cpu_s:.4f} s CPU; "
          f"workload set-up: {res.setup_s:.4f} s CPU")
    for kind, xs in sorted(res.latencies.items()):
        t = tail(xs)
        ts = f"p{t[0]:.0f}={1000 * t[1]:.1f}ms" if t else "tail n/a"
        print(f"  {kind:>10}: n={len(xs):4d} p50={1000 * median(xs):9.1f}ms {ts}")
    print("figures " + json.dumps(values))
    for name, (v, unit) in res.report.items():
        print(f"  {name} = {fmt(v)} {unit}")
    attempted = max(1, res.attempted)
    print(f"error_rate = {res.failed / attempted:.6g} ({res.failed} of {attempted})")
    for line in res.notes:
        print(line)
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"figures": values, **res.trace_dump}, f)
        print(f"trace written to {os.path.relpath(path, ROOT)}")
        units = per_layer_units()
        metrics = {k: res.layer.get(k, (0.0, u)) for k, u in units.items()}
    else:
        metrics = e2e
    for name, (v, unit) in metrics.items():
        print(f"  {name:40s} {fmt(v):>14} {unit}")
    clean = {k: {"value": (v if math.isfinite(v) else 0.0), "unit": u}
             for k, (v, u) in metrics.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": attempted,
                      "failed": res.failed, "metrics": clean}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
