"""Span tracing installed from outside the engine.

``Tracer.install`` replaces the public entry points of each layer (the
engine's modules, Spark actions and the py4j client) with wrappers that
record a span: name, layer, start, end, parent and the id of the operation
(statement or query) it belongs to.  Spans stay in memory; ``self_times``
turns them into per-layer self time (a span's duration minus its child
spans, and minus its py4j round-trips, which are the ``py4j`` layer's).
Spark-layer spans keep their py4j time: an action's round-trip *is* the
Spark work.

``uninstall`` restores every patched attribute.  Nothing here is imported
by the engine; the untraced benchmark runs never construct a Tracer.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

# span record fields
NAME, LAYER, OP, PARENT, T0, T1, PY4J_NS, PY4J_CALLS = range(8)

LAYERS = ("bench", "ddl", "session", "catalog", "pruning", "relation",
          "pipeline", "spark", "py4j")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._paused = 0
        self.bookkeeping_ns = 0
        self._patches: list[tuple[object, str, object]] = []
        self.cas_retries = 0
        self.prunes: list[tuple[int, int]] = []  # (files kept, files total)
        self.span_cost_ns = 0.0
        self.py4j_wrap_cost_ns = 0.0

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else -1
        rec = [name, layer, self.op, parent, time.perf_counter_ns(), 0, 0, 0]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec[T1] = time.perf_counter_ns()
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Tracer bookkeeping: py4j calls made inside are not attributed to
        any layer, and the time is charged to tracing overhead."""
        t0 = time.perf_counter_ns()
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1
            self.bookkeeping_ns += time.perf_counter_ns() - t0

    def wrap(self, owner, attr: str, name: str, layer: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if tracer._paused:
                return orig(*args, **kwargs)
            with tracer.span(name, layer):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def _wrap_py4j(self, client) -> None:
        orig = client.send_command
        tracer = self
        depth = [0]

        def send_command(*args, **kwargs):
            # a send can re-enter (py4j frees JVM objects from finalizers
            # that run mid-call): only the outermost one is counted
            depth[0] += 1
            t0 = time.perf_counter_ns()
            try:
                return orig(*args, **kwargs)
            finally:
                depth[0] -= 1
                if not tracer._paused and depth[0] == 0 and tracer._stack:
                    rec = tracer.spans[tracer._stack[-1]]
                    rec[PY4J_NS] += time.perf_counter_ns() - t0
                    rec[PY4J_CALLS] += 1

        client.send_command = send_command
        self._patches.append((client, "send_command", orig))

    def _wrap_commit_retry(self, cls) -> None:
        orig = cls._commit_retry
        tracer = self

        def _commit_retry(rel, apply_fn, *args, **kwargs):
            calls = [0]

            def counted():
                calls[0] += 1
                return apply_fn()

            try:
                return orig(rel, counted, *args, **kwargs)
            finally:
                tracer.cas_retries += max(0, calls[0] - 1)

        cls._commit_retry = _commit_retry
        self._patches.append((cls, "_commit_retry", orig))

    def install(self, spark) -> None:
        from pyspark import RDD
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from spark_sql_on_hbase_spark import ddl, pruning
        from spark_sql_on_hbase_spark.catalog import AstroCatalog
        from spark_sql_on_hbase_spark.relation import AstroRelation
        from spark_sql_on_hbase_spark.session import AstroSession

        self._calibrate()
        w = self.wrap
        w(ddl, "parse", "ddl.parse", "ddl")
        w(AstroSession, "sql", "session.sql", "session")
        w(AstroSession, "_register_all", "session.register_all", "session")
        w(AstroCatalog, "get_table", "catalog.get_table", "catalog")
        w(AstroCatalog, "_write", "catalog.commit", "catalog")
        w(pruning, "prune_files", "pruning.prune_files", "pruning",
          on_result=lambda r: self.prunes.append((len(r.files), r.total)))
        for attr in ("append", "write", "overwrite", "rewrite_pruned",
                     "delete_rows_keyonly", "update_rows_keyonly",
                     "update_rows_keyset", "delete_rows_resolved_keys",
                     "rewrite_full_retained", "compact", "register_view",
                     "scan", "needs_merge"):
            w(AstroRelation, attr, f"relation.{attr}", "relation")
        self._wrap_commit_retry(AstroRelation)
        for attr in ("collect", "count", "take", "first", "head", "toPandas",
                     "isEmpty", "toLocalIterator"):
            w(DataFrame, attr, f"spark.{attr}", "spark")
        w(RDD, "collect", "spark.rdd_collect", "spark")
        for attr in ("save", "parquet", "saveAsTable", "insertInto"):
            w(DataFrameWriter, attr, f"spark.write_{attr}", "spark")
        for attr in ("parquet", "load", "csv"):
            w(DataFrameReader, attr, f"spark.read_{attr}", "spark")
        w(SparkSession, "sql", "spark.sql", "spark")
        w(SparkSession, "createDataFrame", "spark.createDataFrame", "spark")
        self._wrap_py4j(spark.sparkContext._gateway._gateway_client)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _calibrate(self, n: int = 2000) -> None:
        """Cost of one span and of one py4j wrapper hop, for the overhead
        estimate (the spans recorded here are discarded)."""
        t0 = time.perf_counter_ns()
        for _ in range(n):
            with self.span("calibrate", "bench"):
                pass
        self.span_cost_ns = (time.perf_counter_ns() - t0) / n
        self.spans.clear()

        def nop():
            return None

        def hop():
            t = time.perf_counter_ns()
            try:
                return nop()
            finally:
                if not self._paused and self._stack:
                    self.spans[-1][PY4J_NS] += time.perf_counter_ns() - t

        t0 = time.perf_counter_ns()
        for _ in range(n):
            hop()
        self.py4j_wrap_cost_ns = (time.perf_counter_ns() - t0) / n

    # -- analysis ---------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[PARENT] >= 0:
                kids[s[PARENT]].append(i)
        return kids

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer over every recorded span."""
        kids = self.children()
        out = dict.fromkeys(LAYERS, 0.0)
        for i, s in enumerate(self.spans):
            dur = s[T1] - s[T0]
            child = sum(self.spans[k][T1] - self.spans[k][T0] for k in kids.get(i, ()))
            own = dur - child
            if s[LAYER] != "spark":
                own -= s[PY4J_NS]
                out["py4j"] += s[PY4J_NS] / 1e9
            out[s[LAYER]] = out.get(s[LAYER], 0.0) + own / 1e9
        return out

    def by_name(self, op_filter=None) -> dict[str, tuple[int, float]]:
        """name -> (calls, inclusive seconds), optionally only for spans of
        operations ``op_filter`` accepts."""
        acc: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if op_filter is not None and not op_filter(s[OP]):
                continue
            a = acc[s[NAME]]
            a[0] += 1
            a[1] += (s[T1] - s[T0]) / 1e9
        return {k: (v[0], v[1]) for k, v in acc.items()}

    def py4j_calls(self, op_filter=None) -> int:
        return sum(s[PY4J_CALLS] for s in self.spans
                   if op_filter is None or op_filter(s[OP]))

    def overhead_s(self, bookkeeping_s: float) -> float:
        """Tracing cost inside the measured loop: its bookkeeping time plus
        the calibrated per-span and per-py4j-call wrapper cost."""
        return bookkeeping_s + (len(self.spans) * self.span_cost_ns
                                + self.py4j_calls() * self.py4j_wrap_cost_ns) / 1e9

    def self_time_table(self, loop_wall_s: float, bookkeeping_s: float) -> dict:
        """Per-layer self seconds, their sum, and the wall they account
        for: the measured loop less the tracer's own bookkeeping."""
        selfs = self.self_times()
        return {"self_s": selfs, "sum_self_s": sum(selfs.values()),
                "loop_wall_s": loop_wall_s, "bookkeeping_s": bookkeeping_s,
                "traced_wall_s": loop_wall_s - bookkeeping_s,
                "overhead_s": self.overhead_s(bookkeeping_s)}

    def self_time_metrics(self, loop_wall_s: float, bookkeeping_s: float,
                          n_ops: int) -> dict[str, tuple[float, str]]:
        t = self.self_time_table(loop_wall_s, bookkeeping_s)
        out = {f"self.{layer}_ms_per_op": (1000 * s / n_ops if n_ops else 0.0, "ms")
               for layer, s in t["self_s"].items()}
        # the layers' self time over the traced wall: what the benchmark's
        # own spans (client, checks) and the gaps between spans hold is
        # what the wrappers did not account for
        wall = t["traced_wall_s"]
        layers = t["sum_self_s"] - t["self_s"]["bench"]
        out["self.accounted_share"] = (layers / wall if wall > 0 else 0.0, "ratio")
        out["trace.overhead_share"] = (
            t["overhead_s"] / loop_wall_s if loop_wall_s else 0.0, "ratio")
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s[NAME], "layer": s[LAYER], "op": s[OP], "parent": s[PARENT],
             "start_ns": s[T0], "end_ns": s[T1], "py4j_ns": s[PY4J_NS],
             "py4j_calls": s[PY4J_CALLS]}
            for s in self.spans
        ]


class SparkStats:
    """Per-operation Spark job, stage and Catalyst numbers, read from the
    driver's status store after the run (``spark.ui.enabled`` is not
    needed: the status tracker and store exist either way)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc._jsc.clearJobGroup()

    def stages(self, group: str) -> dict:
        """Jobs, stage intervals (epoch ms), task seconds and shuffle bytes
        of every job run under ``group``."""
        store = self.sc._jsc.sc().statusStore()
        jobs = list(self.st.getJobIdsForGroup(group))
        intervals, task_ms, shuffle = [], 0, 0
        for jid in jobs:
            info = self.st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted or skipped: no data
                    continue
                task_ms += sd.executorRunTime()
                shuffle += sd.shuffleWriteBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
        return {"jobs": len(jobs), "intervals": intervals,
                "task_s": task_ms / 1000.0, "shuffle_bytes": shuffle}

    @staticmethod
    def phases_ms(df) -> dict[str, float]:
        """Catalyst analysis / optimization / planning ms of a DataFrame."""
        out = {}
        ph = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            s = ph.get(name)  # a scala.Option
            out[name] = float(s.get().durationMs()) if s.isDefined() else 0.0
        return out

    @staticmethod
    def files_read(df) -> int:
        """Files the executed scans read: the ``numFiles`` metric summed over
        the final physical plan, adaptive query stages included."""

        def walk(node) -> int:
            m = node.metrics().get("numFiles")
            n = int(m.get().value()) if m.isDefined() else 0
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                return walk(node.executedPlan())
            if cls.endswith("QueryStageExec"):
                return n + walk(node.plan())
            kids = node.children()
            return n + sum(walk(kids.apply(i)) for i in range(kids.size()))

        return walk(df._jdf.queryExecution().executedPlan())


def union_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total

