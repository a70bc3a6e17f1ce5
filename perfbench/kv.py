"""Key-value statement workloads over a composite-key lineitem table.

The table ``kv (l_orderkey, l_linenumber, l_seq, ...)`` is created through
``AstroSession.sql`` with 16 regions and bulk-loaded from the generated
``kv_lineitem.parquet``.  One closed-loop client then sends SQL statements
through ``AstroSession.sql``, each after the previous one returned:

- ``kv_read``: point lookups, key-range scans, key-prefix aggregates and
  range scans with a non-key residual filter (mix weights 12:5:2:1);
- ``kv_write_mix``: the same reads as half the statements, and INSERT
  VALUES of 1-20 new keys, UPDATE by (l_orderkey, l_linenumber), DELETE by
  l_orderkey and MERGE upserts of 10 keys, half of them new (mix weights
  8:6:4:2), on a table created with ``autocompact=2``.

After an untimed point read, INSERT and point read, statements are sent
in cycles holding every kind once, in a fixed order; the measured window
is one whole cycle and then more statements in the same order until the
window has passed.  The CPU of each statement is taken (the process
tree less the JVM's JIT compiler threads), and ``op_cpu_s`` is the
mix-weighted mean of the per-kind means, so every run measures every kind
and weighs it by the mix.
Keys, values and row counts are drawn from the seed.  An in-memory model
of the table (HBase upsert semantics, DELETE removes rows) checks every
read's rows.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter
from contextlib import nullcontext

from perfbench import datagen
from perfbench.common import (Result, counts, engine_cpu_s, jit_cpu_s, mean, median,
                              tree_cpu_s)
from perfbench.tracer import SparkStats, Tracer, union_ms

READ_MIX = {"point": 12, "range": 5, "agg": 2, "residual": 1}
WRITE_MIX = {"insert": 8, "update": 6, "delete": 4, "merge": 2}
READS = tuple(READ_MIX)
WRITES = tuple(WRITE_MIX)
# one cycle: every kind, reads and writes alternating; the kinds with the
# largest weight times per-statement spread (point, insert) come more than
# once, so their means rest on more than one sample
READ_CYCLE = READS
WRITE_CYCLE = ("point", "insert", "range", "point", "update", "agg", "delete", "point",
               "insert", "residual", "merge")
# the first read, the first write, the first merge-on-read read
WARM_UP = ("point", "insert", "point")
# key-range widths as shares of the order-key space (2,000 and 20,000 of
# the 150,000 order keys at sf0.1)
RANGE_SHARE = 2000 / 150_000
AGG_SHARE = 20000 / 150_000
NEW_SEQ = 10_000_000  # l_seq of rows the workload inserts
MERGE_KEYS = 10
COLS = [c for c, _ in datagen.KV_COLUMNS]
FLAGS = ("A", "N", "R")


def create_sql(write_mix: bool) -> str:
    cols = ", ".join(f"{c} {t}" for c, t in datagen.KV_COLUMNS)
    mapped = ", ".join(f"{c}=f.{c[2:]}" for c in COLS[3:])
    opts = "regions=16, autocompact=2" if write_mix else "regions=16"
    return (f"CREATE TABLE kv ({cols}, PRIMARY KEY (l_orderkey, l_linenumber, l_seq)) "
            f"MAPPED BY (h_kv, COLS=[{mapped}]) OPTIONS ({opts})")


class Model:
    """The rows the table must hold: order key -> {(linenumber, seq): values}."""

    def __init__(self, tab) -> None:
        self.rows: dict[int, dict[tuple[int, int], tuple]] = {}
        cols = [tab[c].to_pylist() for c in COLS]
        for r in zip(*cols):
            self.rows.setdefault(r[0], {})[(r[1], r[2])] = r[3:]
        self.n_keys = max(self.rows) + 1

    def select(self, lo: int, hi: int, line: int | None = None, min_qty=None) -> list[tuple]:
        out = []
        for ok in range(lo, hi + 1):
            for (ln, seq), v in self.rows.get(ok, {}).items():
                if (line is None or ln == line) and (min_qty is None or v[1] > min_qty):
                    out.append((ok, ln, seq) + v)
        return sorted(out)

    def agg(self, lo: int, hi: int) -> list[tuple]:
        out = []
        for ok in range(lo, hi + 1):
            vals = list(self.rows.get(ok, {}).values())
            if vals:
                out.append((ok, len(vals), sum(v[1] for v in vals), max(v[2] for v in vals)))
        return out

    def upsert(self, row: tuple) -> None:
        self.rows.setdefault(row[0], {})[(row[1], row[2])] = row[3:]

    def n_rows(self) -> int:
        return sum(len(v) for v in self.rows.values())


class Statements:
    """Generates each statement's SQL, the check of its result and the
    model update, from the seed."""

    def __init__(self, model: Model, rng: random.Random) -> None:
        self.m, self.rng = model, rng
        self.next_seq = NEW_SEQ
        self.range_w = max(1, int(model.n_keys * RANGE_SHARE))
        self.agg_w = max(1, int(model.n_keys * AGG_SHARE))

    def _existing_key(self) -> int:
        keys = self.m.rows
        while True:
            ok = self.rng.randrange(self.m.n_keys)
            if keys.get(ok):
                return ok

    def _new_row(self, ok: int | None = None) -> tuple:
        r = self.rng
        self.next_seq += 1
        return (r.randrange(self.m.n_keys) if ok is None else ok, r.randint(1, 7),
                self.next_seq, r.randrange(200_000), float(r.randint(1, 50)),
                round(r.uniform(900, 105000), 2), r.randint(0, 10) / 100, r.choice(FLAGS))

    @staticmethod
    def _values(row: tuple) -> str:
        """An INSERT VALUES tuple (the engine coerces to column types)."""
        ok, ln, seq, pk, q, p, d, f = row
        return f"({ok}, {ln}, {seq}, {pk}, {q!r}, {p!r}, {d!r}, '{f}')"

    @staticmethod
    def _typed(row: tuple) -> str:
        """A Spark SQL inline-table tuple with the column types spelled."""
        ok, ln, seq, pk, q, p, d, f = row
        return f"({ok}L, {ln}, {seq}L, {pk}L, {q!r}D, {p!r}D, {d!r}D, '{f}')"

    def make(self, kind: str):
        """(sql, expected rows or None, model update or None)."""
        r, m = self.rng, self.m
        if kind == "point":
            ok, ln = r.randrange(m.n_keys), r.randint(1, 7)
            return (f"SELECT * FROM kv WHERE l_orderkey = {ok} AND l_linenumber = {ln}",
                    lambda: m.select(ok, ok, line=ln), None)
        if kind == "range":
            lo = r.randrange(m.n_keys)
            return (f"SELECT * FROM kv WHERE l_orderkey BETWEEN {lo} AND {lo + self.range_w}",
                    lambda: m.select(lo, lo + self.range_w), None)
        if kind == "residual":
            lo, q = r.randrange(m.n_keys), float(r.randint(10, 45))
            return (f"SELECT * FROM kv WHERE l_orderkey BETWEEN {lo} AND {lo + self.range_w} "
                    f"AND l_quantity > {q}",
                    lambda: m.select(lo, lo + self.range_w, min_qty=q), None)
        if kind == "agg":
            lo = r.randrange(m.n_keys)
            return (f"SELECT l_orderkey, count(*), sum(l_quantity), max(l_extendedprice) "
                    f"FROM kv WHERE l_orderkey BETWEEN {lo} AND {lo + self.agg_w} "
                    f"GROUP BY l_orderkey",
                    lambda: m.agg(lo, lo + self.agg_w), None)
        if kind == "insert":
            rows = [self._new_row() for _ in range(r.randint(1, 20))]

            def apply():
                for row in rows:
                    m.upsert(row)
            return ("INSERT INTO kv VALUES " + ", ".join(map(self._values, rows)), None, apply)
        if kind == "update":
            # a (l_orderkey, l_linenumber) pair holding exactly one row, so
            # every UPDATE appends the same number of fragments
            while True:
                ok = self._existing_key()
                lines = Counter(k[0] for k in m.rows[ok])
                single = sorted(ln for ln, c in lines.items() if c == 1)
                if single:
                    break
            ln = r.choice(single)
            q, d = float(r.randint(1, 50)), r.randint(0, 10) / 100

            def apply():
                part = m.rows[ok]
                for key, v in part.items():
                    if key[0] == ln:
                        part[key] = (v[0], q, v[2], d, v[4])
            return (f"UPDATE kv SET l_quantity = {q!r}, l_discount = {d!r} "
                    f"WHERE l_orderkey = {ok} AND l_linenumber = {ln}", None, apply)
        if kind == "delete":
            ok = self._existing_key()
            return (f"DELETE FROM kv WHERE l_orderkey = {ok}", None,
                    lambda: m.rows.pop(ok, None))
        if kind == "merge":
            # MERGE_KEYS source rows, half existing keys (new values) and
            # half new keys: a fixed size, because the upsert append writes
            # one fragment per key range the rows fall in
            rows, seen = [], set()
            while len(rows) < MERGE_KEYS // 2:
                ok = self._existing_key()
                ln, seq = r.choice(sorted(m.rows[ok]))
                if (ok, ln, seq) not in seen:
                    seen.add((ok, ln, seq))
                    rows.append((ok, ln, seq) + self._new_row(ok)[3:])
            rows += [self._new_row() for _ in range(MERGE_KEYS - len(rows))]
            src = ", ".join(map(self._typed, rows))
            sets = ", ".join(f"{c} = src.{c}" for c in COLS[3:])

            def apply():
                for row in rows:
                    m.upsert(row)
            return (f"MERGE INTO kv t USING (SELECT * FROM VALUES {src} AS v({', '.join(COLS)})) "
                    f"src ON t.l_orderkey = src.l_orderkey AND t.l_linenumber = src.l_linenumber "
                    f"AND t.l_seq = src.l_seq WHEN MATCHED THEN UPDATE SET {sets} "
                    f"WHEN NOT MATCHED THEN INSERT *", None, apply)
        raise ValueError(kind)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _local(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _setup(sess, args, work: str, write_mix: bool):
    """Create and bulk-load the table; returns the session, the model and
    the set-up's process-tree CPU and wall seconds."""
    from spark_sql_on_hbase_spark.session import AstroSession

    data = os.path.join(work, "data")
    tabs = datagen.write(data, args.seed, args.sf)
    spark = sess.spark
    spark.read.parquet(os.path.join(data, "kv_lineitem.parquet")).createOrReplaceTempView("kv_src")
    c0, t0 = tree_cpu_s(sess.jvm_pid), time.perf_counter()
    astro = AstroSession(spark, os.path.join(work, "warehouse"))
    astro.sql(create_sql(write_mix))
    astro.sql("INSERT INTO kv SELECT * FROM kv_src")
    cpu_s, wall_s = tree_cpu_s(sess.jvm_pid) - c0, time.perf_counter() - t0
    return astro, Model(tabs["kv_lineitem"]), cpu_s, wall_s


def _warm_up(astro, gen: Statements, kinds, res: Result) -> None:
    """Untimed statements, checked like the measured ones: they run code
    paths for the first time, and how much CPU that takes follows how soon
    the JIT compiles them."""
    for kind in kinds:
        sql, expect, apply = gen.make(kind)
        res.attempted += 1
        try:
            rows = _rows(astro.sql(sql)) if expect else astro.sql(sql)
            if apply:
                apply()
            if expect and rows != expect():
                res.failed += 1
                res.notes.append(f"WRONG RESULT warm-up {kind}: {sql[:160]}")
        except Exception as e:
            res.failed += 1
            res.notes.append(f"FAILED warm-up {kind}: {type(e).__name__}: {str(e)[:200]}")


def run(sess, args, work: str) -> Result:
    write_mix = args.workload == "kv_write_mix"
    astro, model, setup_cpu_s, setup_wall_s = _setup(sess, args, work, write_mix)
    res = Result(setup_s=setup_cpu_s)
    res.report["setup_wall_s"] = (setup_wall_s, "s")
    rng = random.Random(args.seed)
    gen = Statements(model, rng)
    mix = dict(READ_MIX, **WRITE_MIX) if write_mix else dict(READ_MIX)
    cycle = WRITE_CYCLE if write_mix else READ_CYCLE
    t0 = time.perf_counter()
    _warm_up(astro, gen, WARM_UP if write_mix else READS[:1], res)
    res.report["warm_up_wall_s"] = (time.perf_counter() - t0, "s")
    res.latencies = {k: [] for k in mix}
    op_cpu: dict[str, list[float]] = {k: [] for k in mix}

    tracer = stats = None
    if args.trace:
        tracer, stats = Tracer(), SparkStats(sess.spark)
        tracer.install(sess.spark)
    data_dir = _local(astro.catalog.data_dir(astro.relation("kv").meta))
    ops: list[dict] = []  # per-statement records (figures filled in when traced)

    span = tracer.span if tracer else (lambda name, layer: nullcontext())
    jit0, t_start = jit_cpu_s(sess.jvm_pid), time.perf_counter()
    while len(ops) < len(cycle) or time.perf_counter() - t_start < args.seconds:
        _statement(astro, gen, cycle[len(ops) % len(cycle)], res, ops, op_cpu, tracer, stats,
                   span, data_dir, sess.jvm_pid)
    res.loop_wall_s = time.perf_counter() - t_start
    res.loop_jit_s = jit_cpu_s(sess.jvm_pid) - jit0
    res.op_cpu_s = sum(w * mean(op_cpu[k]) for k, w in mix.items()) / sum(mix.values())
    res.report["statements_run"] = (float(len(ops)), "count")
    for k in mix:
        res.report[f"cpu_ms.{k}"] = (1000 * mean(op_cpu[k]), "ms")
    if tracer:
        loop_bookkeeping_s = tracer.bookkeeping_ns / 1e9
        tracer.uninstall()

    _final_checks(astro, model, res, write_mix and bool(args.trace))
    if tracer:
        res.layer, res.trace_dump = _layer_metrics(tracer, stats, ops, res, loop_bookkeeping_s)
    return res


def _statement(astro, gen: Statements, kind: str, res: Result, ops: list, op_cpu: dict,
               tracer, stats, span, data_dir: str, jvm_pid: int) -> None:
    """Send one measured statement, check it, and record its latency and
    CPU (taken before the check, which is the benchmark's)."""
    sql, expect, apply = gen.make(kind)
    op = {"id": f"s{len(ops)}", "kind": kind}
    if tracer:
        with tracer.paused():
            if kind in WRITES:
                files_before = _dir_files(data_dir)
            else:
                rel = astro.relation("kv")
                op["live_files"] = len(rel.meta.regions)
                op["merge"] = rel.needs_merge()
            stats.begin(op["id"])
        tracer.op = op["id"]
    res.attempted += 1
    c0 = engine_cpu_s(jvm_pid)
    op["t0_epoch_ms"] = time.time() * 1000
    t0 = time.perf_counter()
    try:
        with span(f"stmt.{kind}", "bench"):
            df = astro.sql(sql)
            rows = _rows(df) if expect else None
        lat = time.perf_counter() - t0
        op["t1_epoch_ms"] = time.time() * 1000
        op_cpu[kind].append(engine_cpu_s(jvm_pid) - c0)
        if apply:
            apply()
        with span("bench.check", "bench"):
            ok = not expect or rows == expect()
        if not ok:
            res.notes.append(f"WRONG RESULT {kind}: {sql[:160]}")
    except Exception as e:  # a failed statement counts, the loop goes on
        lat, ok = time.perf_counter() - t0, False
        op["t1_epoch_ms"] = time.time() * 1000
        res.notes.append(f"FAILED {kind}: {type(e).__name__}: {str(e)[:200]} | {sql[:160]}")
    res.failed += not ok
    res.latencies[kind].append(lat)
    ops.append(op)
    if tracer:
        tracer.op = None
        with tracer.paused():
            stats.end()
            if expect:
                op["df"] = df
            if kind in WRITES:
                after = _dir_files(data_dir)
                op["bytes_written"] = sum(
                    s for p, s in after.items() if files_before.get(p) != s)
                op["user_bytes"] = _user_bytes(sql)


def _user_bytes(sql: str) -> int:
    """Logical bytes of the rows a write statement names: the VALUES
    payload for INSERT/MERGE, the SET clause for UPDATE, the predicate
    for DELETE."""
    head = sql.split(" VALUES ", 1)
    return len(head[1]) if len(head) == 2 else len(sql.split(" SET ", 1)[-1])


def _final_checks(astro, model: Model, res: Result, space_amp: bool) -> None:
    """Untimed: the whole table equals the model; with ``space_amp``, the
    table's bytes on disk against a COMPACTed copy of the same live rows."""
    res.attempted += 1
    try:
        full = _rows(astro.sql("SELECT * FROM kv"))
        if full != model.select(0, max(model.rows, default=0)):
            res.failed += 1
            res.notes.append(f"WRONG RESULT full-table check ({len(full)} rows, "
                             f"model {model.n_rows()})")
    except Exception as e:
        res.failed += 1
        res.notes.append(f"FAILED full-table check: {type(e).__name__}: {str(e)[:200]}")
    rel = astro.relation("kv")
    res.report["live_files"] = (float(len(rel.meta.regions)), "count")
    if not space_amp:
        return
    data_dir = _local(astro.catalog.data_dir(rel.meta))
    before = sum(_dir_files(data_dir).values())
    astro.sql("COMPACT TABLE kv")
    live = sum(os.path.getsize(_local(r.path)) for r in astro.relation("kv").meta.regions)
    res.report["space_amp"] = (before / live if live else 0.0, "ratio")
    res.attempted += 1
    n = astro.sql("SELECT count(*) FROM kv").collect()[0][0]
    if n != model.n_rows():
        res.failed += 1
        res.notes.append(f"WRONG RESULT count after COMPACT: {n} != {model.n_rows()}")


def _layer_metrics(tracer: Tracer, stats: SparkStats, ops, res: Result, bookkeeping_s: float):
    from perfbench.tracer import NAME, OP, PY4J_CALLS, T0, T1

    with tracer.paused():
        for op in ops:
            st = stats.stages(op["id"])
            op["jobs"] = st["jobs"]
            op["task_s"] = st["task_s"]
            op["shuffle_bytes"] = st["shuffle_bytes"]
            op["exec_ms"] = union_ms(st["intervals"], op["t0_epoch_ms"], op["t1_epoch_ms"])
            op["wall_ms"] = op["t1_epoch_ms"] - op["t0_epoch_ms"]
            df = op.pop("df", None)
            if df is not None:
                try:
                    op["phases"] = SparkStats.phases_ms(df)
                    op["files_read"] = SparkStats.files_read(df)
                except Exception as e:  # keep the run; the figure is missing
                    res.notes.append(f"phase/file metrics unavailable: {e!s:.120}")
    kind_of = {op["id"]: op["kind"] for op in ops}
    reads = [op for op in ops if op["kind"] in READS]
    writes = [op for op in ops if op["kind"] in WRITES]
    is_read = lambda o: kind_of.get(o) in READS  # noqa: E731
    is_write = lambda o: kind_of.get(o) in WRITES  # noqa: E731

    def per(name, op_filter, n):
        calls, secs = tracer.by_name(op_filter).get(name, (0, 0.0))
        return calls / n if n else 0.0, 1000 * secs / n if n else 0.0

    L: dict[str, tuple[float, str]] = {}
    n_w = len(writes)
    L["ddl.parse_ms"] = (per("ddl.parse", None, len(ops))[1], "ms")
    read_sql = [s[T1] - s[T0] for s in tracer.spans if s[NAME] == "session.sql" and is_read(s[OP])]
    L["session.sql_ms"] = (median(read_sql) / 1e6, "ms")
    # register_view is AstroRelation's; the session calls it after every write
    calls, ms = per("relation.register_view", None, len(ops))
    L["session.register_view_ms"] = (ms, "ms")
    L["session.register_view_calls"] = (calls, "count")
    L["catalog.get_table_calls"] = (per("catalog.get_table", None, len(ops))[0], "count")
    calls, ms = per("catalog.commit", is_write, n_w)
    L["catalog.commits_per_write"] = (calls, "count")
    L["catalog.commit_ms"] = (ms, "ms")
    L["catalog.cas_retries"] = (float(tracer.cas_retries), "count")
    L["pruning.prune_ms"] = (per("pruning.prune_files", is_write, n_w)[1], "ms")
    total = sum(t for _k, t in tracer.prunes)
    L["pruning.files_kept_ratio"] = (
        sum(k for k, _t in tracer.prunes) / total if total else 0.0, "ratio")
    for name in ("append", "rewrite", "compact"):
        fn = {"rewrite": ("relation.rewrite_pruned", "relation.delete_rows_keyonly",
                          "relation.update_rows_keyonly", "relation.update_rows_keyset",
                          "relation.delete_rows_resolved_keys", "relation.overwrite"),
              "append": ("relation.append",), "compact": ("relation.compact",)}[name]
        by = tracer.by_name(is_write)
        L[f"relation.{name}_ms"] = (1000 * sum(by.get(f, (0, 0.0))[1] for f in fn) / n_w
                                    if n_w else 0.0, "ms")
    L["relation.compactions"] = (float(tracer.by_name().get("relation.compact", (0, 0))[0]), "count")
    L["relation.live_files"] = (mean(op["live_files"] for op in reads), "count")
    L["relation.merge_read_share"] = (mean(1.0 if op["merge"] else 0.0 for op in reads), "ratio")
    ub = sum(op["user_bytes"] for op in writes)
    L["relation.bytes_written_per_user_byte"] = (
        sum(op["bytes_written"] for op in writes) / ub if ub else 0.0, "ratio")
    L["relation.space_amp"] = res.report.get("space_amp", (0.0, "ratio"))
    L["spark.jobs_per_read"] = (mean(op["jobs"] for op in reads), "count")
    for k in WRITES:
        L[f"spark.jobs_per_{k}"] = (median(op["jobs"] for op in ops if op["kind"] == k), "count")
    for ph in ("analysis", "optimization", "planning"):
        L[f"spark.{ph}_ms"] = (median(op.get("phases", {}).get(ph, 0.0) for op in reads), "ms")
    L["spark.files_read_per_read"] = (mean(op.get("files_read", 0) for op in reads), "count")
    L["spark.exec_ms"] = (mean(op["exec_ms"] for op in ops), "ms")
    L["spark.idle_ms"] = (mean(op["wall_ms"] - op["exec_ms"] for op in ops), "ms")
    L["spark.task_s"] = (mean(op["task_s"] for op in ops), "s")
    L["spark.shuffle_bytes"] = (mean(op["shuffle_bytes"] for op in ops), "bytes")
    L["py4j.calls_per_stmt"] = (tracer.py4j_calls() / len(ops), "count")
    L["kv.read_p50_ms"] = (1000 * median(x for k in READS for x in res.latencies.get(k, [])), "ms")
    L["kv.write_p50_ms"] = (1000 * median(x for k in WRITES for x in res.latencies.get(k, [])), "ms")
    L.update(tracer.self_time_metrics(res.loop_wall_s, bookkeeping_s, len(ops)))
    dump = dict(
        self_time=tracer.self_time_table(res.loop_wall_s, bookkeeping_s),
        ops=ops,
        counts={
            "jobs_per_statement": {k: counts(op["jobs"] for op in ops if op["kind"] == k)
                                   for k in sorted({op["kind"] for op in ops})},
            "commits_per_write": counts(
                sum(1 for s in tracer.spans if s[NAME] == "catalog.commit" and s[OP] == op["id"])
                for op in writes),
            "py4j_calls_per_statement": {
                k: counts(sum(s[PY4J_CALLS] for s in tracer.spans if s[OP] == op["id"])
                          for op in ops if op["kind"] == k)
                for k in sorted({op["kind"] for op in ops})},
        },
        spans=tracer.dump(),
    )
    return L, dump

