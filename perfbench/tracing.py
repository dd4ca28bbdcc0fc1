"""Spans and counters for the traced run.

Spans are recorded from the benchmark's own files: ``instrument``
rebinds a public function of the engine, in every engine module that
holds it, to a wrapper that opens a span around the call. Each span
records id, name, start, end, parent id and op id; a layer's self time is
its span's duration minus the time its child spans cover. Spans stay
in memory until ``Tracer.dump`` writes them out after the run.

Beside the spans the traced run reads, per op:

- the py4j call count, by wrapping the gateway client's ``send_command``;
- the Catalyst phases of the op's final action, from
  ``queryExecution().tracker()``, through a ``QueryExecutionListener``
  served by the py4j callback server;
- jobs and tasks from the ``statusTracker``, through a job group per op;
- scan, shuffle, spill and Python-worker bytes from the SQL status
  store, which works with ``spark.ui.enabled=false``;
- the ``recentProgress`` of every stream the op drained.

Nothing here is installed in an untraced run.
"""

from __future__ import annotations

import itertools
import json
import re
import sys
import threading
import time
from collections import defaultdict

ENGINE = "time_series_data_pipeline_spark"


class Tracer:
    """Spans per op. The op's own thread keeps the span stack; a span
    opened on another thread (a ``foreachBatch`` callback while the op
    waits on a stream) becomes a child of the op thread's innermost
    open span."""

    def __init__(self) -> None:
        # (id, op, name, start, end, parent id, self seconds)
        self.spans: list[tuple] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main: list[list] = []  # op thread's [id, name, start, child_s, outer]
        self._main_thread = threading.get_ident()
        self.op: int | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self.active = False

    def _stack(self) -> list[list]:
        if threading.get_ident() == self._main_thread:
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> None:
        stack = self._stack()
        outer = None
        if not stack and stack is not self._main and self._main:
            outer = self._main[-1]
        stack.append([next(self._ids), name, time.perf_counter(), 0.0, outer])

    def end(self) -> float:
        stack = self._stack()
        sid, name, t0, child, outer = stack.pop()
        t1 = time.perf_counter()
        dur = t1 - t0
        parent = stack[-1] if stack else outer
        if parent is not None:
            parent[3] += dur
        self.spans.append(
            (sid, self.op, name, t0, t1, None if parent is None else parent[0], dur - child)
        )
        return dur

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                tracer.begin(name)

            def __exit__(self, *exc):
                tracer.end()
                return False

        return _Span()

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counts[name] += n

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name, summed over traced ops."""
        out: dict[str, float] = defaultdict(float)
        for _id, op, name, _t0, _t1, _parent, self_s in self.spans:
            if op is not None:
                out[name] += self_s
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "op": op, "name": n, "start": t0, "end": t1, "parent": p}
                    for i, op, n, t0, t1, p, _s in self.spans
                ],
                f,
            )


def instrument(tracer: Tracer, qualname: str, span: str, on_result=None) -> None:
    """Wrap ``module.function`` (``qualname``) in a span, in every loaded
    engine module that binds the same function object."""
    mod_name, fn_name = qualname.rsplit(".", 1)
    __import__(mod_name)
    orig = getattr(sys.modules[mod_name], fn_name)

    def wrapper(*args, **kwargs):
        tracer.begin(span)
        try:
            result = orig(*args, **kwargs)
        finally:
            tracer.end()
        tracer.count(span + ".calls")
        if on_result is not None:
            on_result(args, kwargs, result)
        return result

    for name, mod in list(sys.modules.items()):
        if name.startswith(ENGINE) and getattr(mod, fn_name, None) is orig:
            setattr(mod, fn_name, wrapper)


def count_py4j(spark, tracer: Tracer) -> None:
    """Count every py4j command the op's thread sends while it is traced
    (callback threads, e.g. the phase listener's, are not counted)."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    main = threading.get_ident()

    def send_command(*args, **kwargs):
        if tracer.active and threading.get_ident() == main:
            tracer.counts["driver.py4j_calls"] += 1
        return orig(*args, **kwargs)

    client.send_command = send_command


class QueryPhases:
    """Catalyst phase times of every query executed, from the JVM's
    ``QueryExecutionListener`` callbacks (delivered on the listener bus;
    ``drain`` waits for the bus to empty)."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.plan_s = 0.0
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (JVM interface)
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            self.plan_s += it.next()._2().durationMs() / 1000.0

    def onFailure(self, func, qe, exc):  # noqa: N802 (JVM interface)
        pass

    def drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_value(text: str) -> float:
    """Parse a SQL status-store metric string: ``"1,234"``, ``"12.5 MiB"``
    or the ``"total (min, med, max ...)\\n12.5 MiB (...)"`` form."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


#: (SQL metric name, node-name prefix or None for any node) → counter
SQL_METRICS = {
    ("number of files read", "Scan"): "spark.scan_files",
    ("number of output rows", "Scan"): "spark.scan_rows",
    ("shuffle bytes written", None): "spark.shuffle_write_bytes",
    ("spill size", None): "spark.spill_bytes",
    ("data sent to Python workers", None): "spark.python_bytes_sent",
    ("data returned from Python workers", None): "spark.python_bytes_received",
}


class SparkCounters:
    """Per-op Spark counters: job group → jobs/tasks, SQL status store →
    scan/shuffle/spill/Python bytes of every execution since the last read."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = self._max_execution_id()

    def _max_execution_id(self) -> int:
        ex = self.store.executionsList()
        return ex.last().executionId() if ex.size() else -1

    def read(self, group: str, counts: dict[str, float]) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            counts["spark.jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None:
                    counts["spark.tasks"] += st.numTasks
        ex = self.store.executionsList()
        for i in range(ex.size() - 1, -1, -1):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self.seen:
                break
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    for (mname, prefix), key in SQL_METRICS.items():
                        if m.name() == mname and (
                            prefix is None or node.name().startswith(prefix)
                        ):
                            v = values.get(m.accumulatorId())
                            if v.isDefined():
                                counts[key] += _metric_value(v.get())
        self.seen = max(self.seen, self._max_execution_id())


STREAM_KEYS = (
    "stream.batches",
    "stream.input_rows",
    "stream.add_batch_ms",
    "stream.latest_offset_ms",
    "stream.query_planning_ms",
    "stream.wal_commit_ms",
    "stream.state_rows",
    "stream.state_memory_bytes",
    "stream.state_commit_ms",
)


def stream_progress(query, counts: dict[str, float]) -> None:
    """Fold a drained stream's ``recentProgress`` into the op counters.
    State rows and memory are the last batch's totals (a level, not a
    flow); the rest are summed over batches."""
    progress = query.recentProgress
    for p in progress:
        if p.numInputRows == 0 and not p.stateOperators:
            continue
        d = p.durationMs or {}
        counts["stream.batches"] += 1
        counts["stream.input_rows"] += p.numInputRows
        counts["stream.add_batch_ms"] += d.get("addBatch", 0)
        counts["stream.latest_offset_ms"] += d.get("latestOffset", 0)
        counts["stream.query_planning_ms"] += d.get("queryPlanning", 0)
        counts["stream.wal_commit_ms"] += d.get("walCommit", 0)
        counts["stream.state_commit_ms"] += sum(
            s.commitTimeMs for s in p.stateOperators
        )
    if progress and progress[-1].stateOperators:
        last = progress[-1].stateOperators
        counts["stream.state_rows"] += sum(s.numRowsTotal for s in last)
        counts["stream.state_memory_bytes"] += sum(s.memoryUsedBytes for s in last)


#: span name → per-layer self-time metric
LAYER_METRICS = {
    "flux": "flux.compile_s",
    "influxql": "influxql.compile_s",
    "queries": "queries.build_s",
    "catalog": "catalog.table_s",
    "manifest.prune": "manifest.prune_s",
    "manifest.refresh": "manifest.refresh_s",
    "bucket.write": "bucket.write_s",
    "bucket.rollup": "bucket.rollup_refresh_s",
    "stream": "stream.drain_s",
    "op": "op.other_s",
}

#: public engine functions → span name
SPANS = {
    "flux.compile_flux": "flux",
    "flux.compile_flux_stream": "flux",
    "influxql.compile_influxql": "influxql",
    "catalog.table": "catalog",
    "sources.manifest.prune_files": "manifest.prune",
    "sources.manifest.scan_pruned": "manifest.prune",
    "sources.manifest.refresh_stats_manifest": "manifest.refresh",
    "sources.bucket.refresh_bucket_manifest": "manifest.refresh",
    "sources.bucket.write_bucket": "bucket.write",
    "sources.bucket.to_long": "bucket.write",
    "sources.gas_csv.ingest_wide": "bucket.write",
    "sources.bucket.refresh_hourly_rollup": "bucket.rollup",
    "streaming.ingest.start_bucket_ingest": "stream",
    "streaming.ingest.start_rollup_maintenance": "stream",
}

#: per-op counters reported as they are, per op
COUNTERS = (
    "flux.calls",
    "influxql.calls",
    "catalog.calls",
    "manifest.prune_calls",
    "bucket.rows_written",
    "driver.py4j_calls",
    "spark.jobs",
    "spark.tasks",
    "spark.scan_files",
    "spark.scan_rows",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.python_bytes_sent",
    "spark.python_bytes_received",
    *STREAM_KEYS,
)


class Hooks:
    """Installs the spans and counters on a workload after its untraced
    half and turns them on around each traced op."""

    def __init__(self, spark, wl) -> None:
        from time_series_data_pipeline_spark.queries import QUERIES
        from time_series_data_pipeline_spark.sources import manifest as mf

        self.spark = spark
        self.tracer = t = Tracer()
        self.kept = [0, 0]  # files returned by prune_files, files in store

        def pruned(args, kwargs, files):
            if not t.active:
                return
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            t.count("manifest.prune_calls")
            self.kept[0] += len(files)
            self.kept[1] += len(mf._list_data_files(path))

        for qual, span in SPANS.items():
            instrument(
                t, f"{ENGINE}.{qual}", span,
                pruned if qual.endswith("prune_files") else None,
            )
        for name, fn in list(QUERIES.items()):
            QUERIES[name] = _wrap(t, fn, "queries")
        count_py4j(spark, t)
        self.phases = QueryPhases(spark)
        self.counters = SparkCounters(spark)
        self.n_ops = 0

        action, drain = wl.action, wl.drain

        def drain_phases():
            # the tracer's own py4j calls are not the op's
            was, t.active = t.active, False
            self.phases.drain()
            t.active = was

        def traced_action(df):
            drain_phases()
            before = self.phases.plan_s
            t.begin("spark.action")
            try:
                action(df)
            finally:
                dur = t.end()
            drain_phases()
            plan = self.phases.plan_s - before
            t.counts["spark.plan_s"] += plan
            t.counts["spark.exec_s"] += dur - plan

        def traced_drain(query):
            with t.span("stream"):
                drain(query)
            stream_progress(query, t.counts)

        wl.action, wl.drain = traced_action, traced_drain
        wl.tracer = t

    def before(self, i: int) -> None:
        self.tracer.op = i
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{i}", "perfbench op")
        self.tracer.active = True
        self.tracer.begin("op")

    def after(self, i: int) -> None:
        self.tracer.end()
        self.tracer.active = False
        self.tracer.op = None
        self.counters.read(f"perfbench-op-{i}", self.tracer.counts)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.n_ops += 1

    def metrics(self, untraced_op_s, traced_op_s, session_s, stores) -> dict:
        n = max(self.n_ops, 1)
        t = self.tracer
        self_s = t.self_times()
        out = {"session.start_s": (session_s, "s")}
        out["store.build_s"] = (stores.seconds, "s")
        out["store.builds"] = (stores.builds, "count")
        for span, name in LAYER_METRICS.items():
            out[name] = (self_s.get(span, 0.0) / n, "s")
        out["spark.plan_s"] = (t.counts["spark.plan_s"] / n, "s")
        out["spark.exec_s"] = (t.counts["spark.exec_s"] / n, "s")
        for key in COUNTERS:
            unit = (
                "ms" if key.endswith("_ms")
                else "bytes" if "bytes" in key
                else "count"
            )
            out[key] = (t.counts[key] / n, unit)
        out["manifest.files_kept_ratio"] = (
            self.kept[0] / self.kept[1] if self.kept[1] else 1.0, "ratio"
        )
        layers = sum(v for k, (v, _u) in out.items()
                     if k in LAYER_METRICS.values() and k != "op.other_s")
        layers += out["spark.plan_s"][0] + out["spark.exec_s"][0]
        out["trace.untraced_op_s"] = (untraced_op_s, "s")
        out["trace.traced_op_s"] = (traced_op_s, "s")
        out["trace.overhead_ratio"] = (traced_op_s / untraced_op_s - 1, "ratio")
        out["trace.layer_sum_ratio"] = (layers / untraced_op_s, "ratio")
        return out


def _wrap(tracer: Tracer, fn, span: str):
    def wrapper(*args, **kwargs):
        with tracer.span(span):
            return fn(*args, **kwargs)

    return wrapper
