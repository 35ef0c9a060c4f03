"""Per-layer tracing for the benchmark's traced run.

Everything here wraps calls *into* the package from outside it; no
package file changes.  :func:`install` replaces each layer's public
functions (and the public methods of its classes) with timing wrappers,
and rebinds every name a package module imported from a layer module
(``from .operators.dedup import shingles``), so calls through either
name are seen.  Imports made inside a function body resolve at call
time to the wrapped module attribute.

A wrapper records a span (name, start, end, parent, request id) and
attributes calls to its layer only at the layer's outermost call, so a
layer calling itself is counted once.  Spark jobs are attributed after
each pass from the status store: every job of a request's job groups
counts for each layer whose outermost span was open at its submission
time.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time

PKG = "remove_na_lgbtiq_queer_knowledge_graph_spark"

#: layer name -> package module whose public callables form the layer
LAYERS = {
    "sparql": "plans.sparql",
    "bgp": "plans.bgp",
    "similarity": "operators.similarity",
    "dedup": "operators.dedup",
    "er": "operators.er",
    "text": "operators.text",
    "graph": "operators.graph",
    "stream": "streaming.windows",
}

#: DataFrame methods that materialise an intermediate, and driver
#: actions, counted while a request is being built
MATERIALIZE = ("localCheckpoint", "checkpoint", "cache", "persist")
ACTIONS = ("collect", "count", "take", "first", "toPandas")


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.depth: dict[str, int] = {}
        self.request = None
        self.phase = None
        self.counts: dict[str, float] = {}

    # -- spans ---------------------------------------------------------
    def open(self, name: str, layer: str | None = None) -> dict:
        parent = self.stack[-1]["id"] if self.stack else None
        span = {"id": len(self.spans), "name": name, "layer": layer,
                "parent": parent, "request": self.request,
                "start": time.time()}
        self.spans.append(span)
        self.stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self.stack.pop()

    def add(self, key: str, value: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def layer_call(self, layer: str, name: str, fn, args, kwargs):
        outer = self.depth.get(layer, 0) == 0
        self.depth[layer] = self.depth.get(layer, 0) + 1
        span = self.open(f"{layer}.{name}", layer if outer else None)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            self.close(span)
            self.depth[layer] -= 1
            if outer:
                self.add(f"{layer}.s", dt)
                self.add(f"{layer}.calls")


TRACER = Tracer()


def _wrap(layer: str, name: str, fn, hook=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not TRACER.on:
            return fn(*args, **kwargs)
        if hook is not None:
            return hook(fn, args, kwargs)
        return TRACER.layer_call(layer, name, fn, args, kwargs)

    return traced


def _rebind(originals: dict[int, object]) -> None:
    """Point every package-module global that names an original
    function at its wrapper."""
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            wrapped = originals.get(id(val))
            if wrapped is not None and wrapped is not val:
                setattr(mod, attr, wrapped)


def _public_callables(mod):
    for name, obj in list(vars(mod).items()):
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield name, obj, None
        elif inspect.isclass(obj):
            for mname, meth in list(vars(obj).items()):
                if not mname.startswith("_") and inspect.isfunction(meth):
                    yield f"{name}.{mname}", meth, obj


def install() -> None:
    """Wrap every layer; idempotent per process."""
    import importlib

    if getattr(install, "done", False):
        return
    install.done = True
    importlib.import_module(f"{PKG}.registry").all_specs()
    originals: dict[int, object] = {}

    def wrap_module(layer, mod, hooks=None):
        for name, fn, cls in _public_callables(mod):
            hook = (hooks or {}).get(name)
            w = _wrap(layer, name, fn, hook)
            if cls is not None:
                setattr(cls, name.split(".", 1)[1], w)
            else:
                originals[id(fn)] = w

    spec = importlib.import_module(f"{PKG}.spec")
    qs = importlib.import_module(f"{PKG}.queries_sparql")
    sparql = importlib.import_module(f"{PKG}.plans.sparql")

    def t_hook(fn, args, kwargs):
        before = set(spec._TABLE_MEMO)
        out = TRACER.layer_call("sources", "t", fn, args, kwargs)
        TRACER.add("sources.load_calls")
        if set(spec._TABLE_MEMO) - before:
            TRACER.add("sources.memo_misses")
        return out

    def kg_hook(fn, args, kwargs):
        n = len(qs._KG_MEMO)
        t0 = time.perf_counter()
        out = TRACER.layer_call("kg", "kg_memo", fn, args, kwargs)
        if len(qs._KG_MEMO) != n:
            TRACER.add("kg.materialize_s", time.perf_counter() - t0)
        return out

    def compile_hook(fn, args, kwargs):
        n = len(sparql._COMPILE_MEMO)
        out = TRACER.layer_call("sparql", "compile_sparql", fn, args, kwargs)
        if len(sparql._COMPILE_MEMO) == n:
            TRACER.add("sparql.memo_hits")
        return out

    originals[id(spec.t)] = _wrap("sources", "t", spec.t, t_hook)
    originals[id(qs.kg_memo)] = _wrap("kg", "kg_memo", qs.kg_memo, kg_hook)
    for layer, modname in LAYERS.items():
        mod = importlib.import_module(f"{PKG}.{modname}")
        wrap_module(layer, mod, {"compile_sparql": compile_hook}
                    if layer == "sparql" else None)
    _rebind(originals)
    _patch_dataframe()


def _patch_dataframe() -> None:
    from pyspark import RDD

    try:  # the concrete class of a classic (non-Connect) session
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    def counter(cls, meth, key):
        orig = getattr(cls, meth)

        @functools.wraps(orig)
        def counted(self, *a, **k):
            if not (TRACER.on and TRACER.phase == "build"):
                return orig(self, *a, **k)
            outer = TRACER.depth.get("df", 0) == 0
            TRACER.depth["df"] = TRACER.depth.get("df", 0) + 1
            try:
                if outer:
                    TRACER.add(key)
                return orig(self, *a, **k)
            finally:
                TRACER.depth["df"] -= 1

        setattr(cls, meth, counted)

    for m in MATERIALIZE:
        counter(DataFrame, m, "build.materialize_calls")
    for m in ACTIONS:
        counter(DataFrame, m, "build.driver_actions")
    counter(RDD, "getNumPartitions", "build.driver_actions")


# -- status-store reads --------------------------------------------------

_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_SCALE = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _ms(text: str) -> float:
    """Milliseconds from a formatted SQL timing metric (its total line)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _DURATION.search(line)
    return float(m.group(1)) * _SCALE[m.group(2)] if m else 0.0


class StatusReader:
    """Reads jobs, stages and SQL metrics for finished requests."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self.bus.waitUntilEmpty(10_000)

    def last_execution_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(int(n) - 1, 1).head().executionId()

    def jobs(self, group: str) -> list[dict]:
        tracker = self.sc.statusTracker()
        out = []
        for jid in tracker.getJobIdsForGroup(group):
            sub = self.store.job(jid).submissionTime()
            info = tracker.getJobInfo(jid)
            out.append({
                "id": jid,
                "submitted": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "stages": list(info.stageIds) if info else [],
            })
        return out

    def stage_totals(self, stage_ids) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        tot = {"stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0}
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never attempted, or evicted
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            tot["failed_tasks"] += sd.numFailedTasks()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return tot

    def python_eval_ms(self, first_id: int, last_id: int) -> float:
        """Sum of the 'time to run Python workers' SQL metric over the
        executions with ids in (first_id, last_id]."""
        total = 0.0
        for eid in range(first_id + 1, last_id + 1):
            if self.sql.execution(eid).isEmpty():
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                metrics = nodes.next().metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() == "time to run Python workers":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += _ms(v.get())
        return total


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[str, int]:
    """Count each job once for every layer whose outermost span was open
    when it was submitted; a job under a nested call of another layer
    counts for both, as the time does."""
    out: dict[str, int] = {}
    for job in jobs:
        ts = job["submitted"]
        if ts is None:
            continue
        seen = set()
        for s in spans:
            layer = s.get("layer")
            if layer and layer not in seen and s["start"] <= ts <= s.get("end", ts):
                seen.add(layer)
                out[f"{layer}.jobs"] = out.get(f"{layer}.jobs", 0) + 1
    return out


class StreamListener:
    """StreamingQueryListener collecting micro-batch progress."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.started = 0
        self.terminated = 0
        self.progress: list = []
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started += 1

            def onQueryProgress(self, event):
                outer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query has reported termination."""
        end = time.time() + timeout
        while self.terminated < self.started and time.time() < end:
            time.sleep(0.01)

    def take(self) -> dict[str, float]:
        """Totals over the progress events since the last take()."""
        events, self.progress = self.progress, []
        tot = {"stream.batches": 0, "stream.input_rows": 0,
               "stream.add_batch_ms": 0.0, "stream.commit_ms": 0.0,
               "stream.state_rows": 0}
        last_state: dict[str, int] = {}
        for p in events:
            tot["stream.batches"] += 1
            tot["stream.input_rows"] += p.numInputRows
            d = p.durationMs or {}
            tot["stream.add_batch_ms"] += d.get("addBatch", 0)
            tot["stream.commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0)
            last_state[str(p.runId)] = sum(
                s.numRowsTotal for s in (p.stateOperators or []))
        tot["stream.state_rows"] = sum(last_state.values())
        return tot
