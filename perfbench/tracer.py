"""In-memory span tracer plus Spark status-store deltas, for the traced run.

Nothing here is imported by the untraced run. ``Tracer.install`` rebinds the
public functions of each layer to timing wrappers and ``uninstall`` restores
the originals, so one process can alternate untraced and traced passes (the
difference is the tracing overhead).

Layers and what wraps them:

- ``registry.load`` is bound by name in 48 operator modules
  (``from ..registry import load``), so rebinding only the registry
  attribute would miss them. ``install`` replaces every module-level name
  that *is* the original function, in every loaded module, plus the
  registry attribute itself for call-time imports.
- ``etl.return_date_list`` / ``etl.update_meta_file`` are imported by name
  into ``etl``; they are wrapped in that namespace.
- ``FileSystemConnector`` and ``Report1ETL`` methods are wrapped on the
  class.
- ``operators.build`` / ``spark.materialize`` spans are opened by the
  workload around ``spec.fn`` and the noop write.

Spark counters come from the in-process status stores (they work with
``spark.ui.enabled=false``): the SQL store for executions and Python-node
metrics, the app store for jobs, stages and task metrics. Each operation
runs in its own job group, so its jobs are exactly
``statusTracker().getJobIdsForGroup(group)``.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "run_id", "attrs", "child_s")

    def __init__(self, name, start, parent, run_id):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.run_id = run_id
        self.attrs = {}
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.dur

    def total(self, name: str, run_ids=None) -> float:
        return sum(
            s.dur for s in self.spans
            if s.name == name and s.end is not None and (run_ids is None or s.run_id in run_ids)
        )

    def calls(self, name: str, run_ids=None) -> int:
        return sum(
            1 for s in self.spans if s.name == name and (run_ids is None or s.run_id in run_ids)
        )

    def dump(self, path: str) -> None:
        """Spans as JSON lines with self times."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "run_id": s.run_id, "parent": s.parent,
                    "start": round(s.start, 6), "end": round(s.end, 6),
                    "dur_s": round(s.dur, 6), "self_s": round(s.self_s, 6), **s.attrs,
                }) + "\n")

    # -- wrappers ------------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        from trading_data_pipeline_spark import etl, registry
        from trading_data_pipeline_spark.sources.connector import FileSystemConnector

        orig_load = registry.load
        wrapped_load = self._wrap(orig_load, "registry.load")
        for mod in list(sys.modules.values()):
            if getattr(mod, "load", None) is orig_load:
                self._patch(mod, "load", wrapped_load)

        self._patch(etl, "return_date_list", self._wrap(etl.return_date_list, "meta.date_list"))
        self._patch(etl, "update_meta_file", self._wrap(etl.update_meta_file, "meta.update"))
        for attr, name in (("extract", "etl.extract"), ("transform", "etl.transform"), ("load", "etl.load")):
            self._patch(etl.Report1ETL, attr, self._wrap(getattr(etl.Report1ETL, attr), name))
        self._patch(etl, "run_job", self._wrap(etl.run_job, "etl.run_job"))

        conn = FileSystemConnector
        self._patch(conn, "list_files_in_prefix", self._wrap(conn.list_files_in_prefix, "sources.list"))
        self._patch(conn, "read_csv", self._wrap(conn.read_csv, "sources.read_csv"))
        orig_wso = conn.write_single_object
        tracer = self

        @functools.wraps(orig_wso)
        def write_single_object(connector, df, key, file_format):
            sql0 = tracer.sql_count()
            with tracer.span("sources.write") as sp:
                out = orig_wso(connector, df, key, file_format)
            sp.attrs["sql_executions"] = tracer.sql_count() - sql0
            sp.attrs["format"] = file_format
            path = connector._abs(key)
            path = path[len("file:"):] if path.startswith("file:") else path
            sp.attrs["bytes"] = os.path.getsize(path) if os.path.isfile(path) else 0
            return out

        self._patch(conn, "write_single_object", write_single_object)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- Spark status stores -------------------------------------------------
    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def sql_count(self) -> int:
        """SQL executions recorded so far (drains the listener bus first)."""
        self._drain()
        return int(self._sql_store().executionsCount())

    @contextmanager
    def operation(self, run_id: str):
        """Scope one timed operation: its own job group, and a snapshot of
        the SQL store so the executions it started can be read back."""
        sc = self.spark.sparkContext
        self.run_id = run_id
        sc.setJobGroup(run_id, run_id)
        exec0 = self.sql_count()
        delta = {}
        try:
            yield delta
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            delta.update(self._read_delta(run_id, exec0))
            self.run_id = None

    def _read_delta(self, group: str, exec0: int) -> dict:
        self._drain()
        sc = self.spark.sparkContext
        app = sc._jsc.sc().statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out.update(jobs=0, stages=0, tasks=0, python_rows=0, python_bytes=0)
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        seen = set()
        for jid in job_ids:
            sids = app.job(jid).stageIds()
            seen.update(int(sids.apply(i)) for i in range(sids.size()))
        for sid in sorted(seen):
            try:
                st = app.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped) stages have no data
                continue
            if str(st.status().toString()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numCompleteTasks())
            for key, getter in STAGE_FIELDS.items():
                out[key] += int(getattr(st, getter)())
        store = self._sql_store()
        n_exec = int(store.executionsCount()) - exec0
        out["sql_executions"] = n_exec
        if n_exec > 0:
            execs = store.executionsList(exec0, n_exec)
            for i in range(execs.size()):
                rows, nbytes = self._python_metrics(store, execs.apply(i).executionId())
                out["python_rows"] += rows
                out["python_bytes"] += nbytes
        return out

    def _python_metrics(self, store, exec_id) -> tuple[int, int]:
        """Rows out of, and bytes across, the Python/Arrow nodes of one
        execution (the SQL metrics of the Python exec nodes)."""
        graph = store.planGraph(exec_id)
        nodes = graph.allNodes()
        wanted: dict[int, str] = {}
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not PYTHON_NODE.search(str(node.name())):
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                mname = str(m.name())
                if mname in PYTHON_METRICS:
                    wanted[int(m.accumulatorId())] = PYTHON_METRICS[mname]
        if not wanted:
            return 0, 0
        values = parse_metric_map(str(store.executionMetrics(exec_id).toString()))
        rows = nbytes = 0
        for acc, kind in wanted.items():
            v = values.get(acc, 0)
            if kind == "rows":
                rows += int(v)
            else:
                nbytes += int(v)
        return rows, nbytes


# StageData getter -> per-layer counter (times in ms, CPU in ns, sizes in bytes)
STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
}

PYTHON_NODE = re.compile(r"Python|Arrow|Pandas|UDTF")
PYTHON_METRICS = {
    "number of output rows": "rows",
    "data sent to Python workers": "bytes",
    "data returned from Python workers": "bytes",
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_ENTRY = re.compile(r"(?:^|, )(\d+) -> ")


def parse_metric_map(text: str) -> dict[int, float]:
    """Parse ``SQLAppStatusStore.executionMetrics(id).toString()``.

    Values are display strings: ``4,500`` (counts), ``83.5 KiB`` (sizes),
    or a two-line ``total (min, med, max ...)\\n12 ms (...)`` form whose
    total is the first token of the second line. Sizes come back in
    bytes (to the display precision); times are not needed here.
    """
    body = text[text.index("(") + 1 : text.rindex(")")]
    parts = _ENTRY.split(body)
    out = {}
    for i in range(1, len(parts) - 1, 2):
        acc, val = int(parts[i]), parts[i + 1]
        if "\n" in val:
            val = val.split("\n", 1)[1]
        tok = val.split(" (")[0].strip().split()
        if not tok:
            continue
        try:
            num = float(tok[0].replace(",", ""))
        except ValueError:
            continue
        if len(tok) > 1 and tok[1] in _UNITS:
            num *= _UNITS[tok[1]]
        out[acc] = num
    return out
