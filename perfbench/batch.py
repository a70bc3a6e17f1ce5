"""Pipeline batch workload: build each query, then execute it to a noop sink.

Queries come from the engine's registry, ``spark_queries()[name](spark,
sf_dir)``, over the generated tables.  Two groups:

- py4j-heavy builders, which construct their plans through thousands of
  driver-to-JVM calls: temporal_join_suite, ann_pq_topk, dedup_minhash_lsh;
- SQL-text queries, whose build is one ``spark.sql`` and whose cost is on
  the executors: q1, q3, q5 and q18.

The set-up pass builds and collects every query once and checks its row
count and value hash against the DuckDB ``oracle_sql()`` over the same
files (the hash of ``tools/check_correctness.py``); it also warms the JVM.
The measured window, one closed-loop client, is one whole pass and then
more queries in the same order until the window has passed.  The CPU of
each query is taken (the process tree less the JVM's JIT compiler
threads), and ``op_cpu_s`` is the mean over queries of each query's mean,
so every run weighs every query once however many fit.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

from perfbench import datagen
from perfbench.common import (Result, counts, engine_cpu_s, jit_cpu_s, mean, median,
                              tree_cpu_s)
from perfbench.tracer import NAME, OP, PY4J_CALLS, SparkStats, Tracer, union_ms

BUILDERS = ("temporal_join_suite", "ann_pq_topk", "dedup_minhash_lsh")
SQL_TEXT = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
            "q18_large_orders")
QUERIES = BUILDERS + SQL_TEXT
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _oracle_check(spark, jvm_pid: int, builders, oracles, data: str, res: Result) -> float:
    """Build + collect every query and compare with DuckDB; returns the
    process-tree CPU seconds of the Spark side (the set-up pass)."""
    import duckdb

    from tools.check_correctness import table_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    spark_cpu_s = 0.0
    for name in QUERIES:
        res.attempted += 1
        try:
            c0 = tree_cpu_s(jvm_pid)
            df = builders[name](spark, data)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            spark_cpu_s += tree_cpu_s(jvm_pid) - c0
            cur = con.execute(oracles[name])
            dcols = [d[0].lower() for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            res.failed += 1
            res.notes.append(f"FAILED {name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if len(rows) != len(drows) or table_hash(cols, rows) != table_hash(dcols, drows):
            res.failed += 1
            res.notes.append(f"WRONG RESULT {name}: spark {len(rows)} rows, "
                             f"oracle {len(drows)} rows, value hashes differ")
    con.close()
    return spark_cpu_s


def run(sess, args, work: str) -> Result:
    from spark_sql_on_hbase_spark.queries import oracle_queries, spark_queries

    data = os.path.join(work, "data")
    datagen.write(data, args.seed, args.sf)
    spark = sess.spark
    builders, oracles = spark_queries(), oracle_queries()
    res = Result()
    res.setup_s = _oracle_check(spark, sess.jvm_pid, builders, oracles, data, res)
    res.latencies = {n: [] for n in QUERIES}

    tracer = stats = None
    if args.trace:
        tracer, stats = Tracer(), SparkStats(spark)
        tracer.install(spark)
    span = tracer.span if tracer else (lambda name, layer: nullcontext())
    ops: list[dict] = []
    passes: list[float] = []  # wall of each whole pass
    jit0 = jit_cpu_s(sess.jvm_pid)
    t_start = p0 = time.perf_counter()
    while len(ops) < len(QUERIES) or time.perf_counter() - t_start < args.seconds:
        name = QUERIES[len(ops) % len(QUERIES)]
        op = {"id": f"p{len(passes)}.{name}", "query": name, "pass": len(passes)}
        if tracer:
            with tracer.paused():
                stats.begin(op["id"])
            tracer.op = op["id"]
        res.attempted += 1
        c0 = engine_cpu_s(sess.jvm_pid)
        op["t0_epoch_ms"] = time.time() * 1000
        t0 = time.perf_counter()
        try:
            with span(f"query.{name}", "bench"):
                with span("pipeline.build", "pipeline"):
                    df = builders[name](spark, data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            op["build_s"], op["exec_s"] = t1 - t0, t2 - t1
        except Exception as e:  # a failed query counts, the pass goes on
            t2 = time.perf_counter()
            res.failed += 1
            res.notes.append(f"FAILED {name}: {type(e).__name__}: {str(e)[:200]}")
        op["t1_epoch_ms"] = time.time() * 1000
        op["cpu_s"] = engine_cpu_s(sess.jvm_pid) - c0
        res.latencies[name].append(t2 - t0)
        if tracer:
            tracer.op = None
            with tracer.paused():
                stats.end()
        ops.append(op)
        if len(ops) % len(QUERIES) == 0:
            passes.append(time.perf_counter() - p0)
            p0 = time.perf_counter()
    res.loop_wall_s = time.perf_counter() - t_start
    res.loop_jit_s = jit_cpu_s(sess.jvm_pid) - jit0
    per_query_cpu = _per_query(ops, "cpu_s")
    res.op_cpu_s = mean(per_query_cpu)
    for name, c in zip(QUERIES, per_query_cpu):
        res.report[f"cpu_ms.{name}"] = (1000 * c, "ms")
    res.report["batch_wall_s"] = (median(passes), "s")
    res.report["queries_run"] = (float(len(ops)), "count")
    for group, members in (("builders", BUILDERS), ("sql_text", SQL_TEXT)):
        for part in ("build_s", "exec_s"):
            res.report[f"{group}.{part}_per_pass"] = (
                sum(v for q, v in zip(QUERIES, _per_query(ops, part)) if q in members), "s")
    if tracer:
        bookkeeping_s = tracer.bookkeeping_ns / 1e9
        tracer.uninstall()
        res.layer, res.trace_dump = _layer_metrics(tracer, stats, ops, res, bookkeeping_s)
    return res


def _per_query(ops, key: str) -> list[float]:
    """Each query's mean of ``key``, in QUERIES order."""
    return [mean(op.get(key, 0.0) for op in ops if op["query"] == q) for q in QUERIES]


def _layer_metrics(tracer: Tracer, stats: SparkStats, ops, res: Result, bookkeeping_s: float):
    with tracer.paused():
        for op in ops:
            st = stats.stages(op["id"])
            op.update(jobs=st["jobs"], task_s=st["task_s"], shuffle_bytes=st["shuffle_bytes"],
                      exec_ms=union_ms(st["intervals"], op["t0_epoch_ms"], op["t1_epoch_ms"]),
                      wall_ms=op["t1_epoch_ms"] - op["t0_epoch_ms"])
    py4j = {op["id"]: 0 for op in ops}
    for s in tracer.spans:
        if s[OP] in py4j:
            py4j[s[OP]] += s[PY4J_CALLS]
    for op in ops:
        op["py4j_calls"] = py4j[op["id"]]
    # per pass: the sum over queries of each query's mean
    L: dict[str, tuple[float, str]] = {}
    L["pipeline.build_s"] = (sum(_per_query(ops, "build_s")), "s")
    L["pipeline.exec_s"] = (sum(_per_query(ops, "exec_s")), "s")
    L["pipeline.py4j_calls"] = (sum(_per_query(ops, "py4j_calls")), "count")
    for name in QUERIES:
        mine = [op for op in ops if op["query"] == name]
        L[f"pipeline.{name}.build_s"] = (median(op.get("build_s", 0.0) for op in mine), "s")
        L[f"pipeline.{name}.exec_s"] = (median(op.get("exec_s", 0.0) for op in mine), "s")
        L[f"pipeline.{name}.py4j_calls"] = (median(py4j[op["id"]] for op in mine), "count")
    L["spark.exec_ms"] = (mean(op["exec_ms"] for op in ops), "ms")
    L["spark.idle_ms"] = (mean(op["wall_ms"] - op["exec_ms"] for op in ops), "ms")
    L["spark.task_s"] = (mean(op["task_s"] for op in ops), "s")
    L["spark.shuffle_bytes"] = (mean(op["shuffle_bytes"] for op in ops), "bytes")
    L["py4j.calls_per_stmt"] = (sum(py4j.values()) / len(ops), "count")
    L.update(tracer.self_time_metrics(res.loop_wall_s, bookkeeping_s, len(ops)))
    dump = dict(
        self_time=tracer.self_time_table(res.loop_wall_s, bookkeeping_s),
        ops=ops,
        counts={
            "jobs_per_query": {n: counts(op["jobs"] for op in ops if op["query"] == n)
                               for n in QUERIES},
            "py4j_calls_per_query": {n: counts(py4j[op["id"]] for op in ops
                                               if op["query"] == n) for n in QUERIES},
            "commits_per_query": counts(
                sum(1 for s in tracer.spans if s[NAME] == "catalog.commit" and s[OP] == op["id"])
                for op in ops),
        },
        spans=tracer.dump(),
    )
    return L, dump
