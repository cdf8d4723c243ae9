"""In-memory spans, process-tree memory, and Spark's own status data.

- :class:`Tracer` records spans (name, start, end, parent, trace id) around
  the benchmark's calls into each pyfads layer, keeps them in memory, and
  computes each layer's self time: a span's duration minus the part of it
  covered by its child spans.  A disabled tracer records nothing, so the
  timed runs pay only a context-manager call per span.
- :class:`RssSampler` samples the resident set of this process and every
  descendant (the Spark JVM and its Python workers) on a background thread
  and keeps the peak.
- :func:`stage_totals` sums the JVM status store's per-stage metrics over
  the stages a phase ran (it works with the UI disabled).
- :func:`stream_layers` reduces ``StreamingQueryProgress`` events to the
  per-micro-batch breakdown.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "trace": self.trace_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> "dict[str, float]":
        """Layer (the span name's first dotted part) -> summed self time."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root: int, page: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may hold spaces; fields after it are fixed
        fields = stat[stat.rfind(")") + 2 :].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = rss.get(root, 0), [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, ()):
            # a child the JVM is spawning shares its parent's memory until it
            # execs and reports the parent's RSS; count it once
            if rss.get(c, 0) != rss.get(p, 0):
                total += rss.get(c, 0)
            todo.append(c)
    return total


RSS_INTERVAL_S = 0.25


class RssSampler:
    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)

    def sample(self) -> None:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))

    def take_peak(self) -> int:
        """Peak since the last call (sampling once more first), then reset."""
        self.sample()
        peak, self.peak = self.peak, 0
        return peak

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _stages(spark) -> tuple:
    """(status store, every stage it holds) — it works with the UI off."""
    sc = spark.sparkContext
    jvm = sc._jvm
    st = sc._jsc.sc().statusStore()
    stages = st.stageList(jvm.java.util.ArrayList(), False, False,
                          sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    return st, [stages.apply(i) for i in range(stages.size())]


def max_stage_id(spark) -> int:
    return max((s.stageId() for s in _stages(spark)[1]), default=-1)


# physical operators that run a Python worker next to the task
_PY_OPS = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
           "FlatMapGroupsInPandasWithState", "MapInPandas", "MapInArrow",
           "FlatMapCoGroupsInPandas", "ArrowWindowPython", "AggregateInPandas",
           "PythonUDTF", "TransformWithStateInPandas")


def stage_totals(spark, after_stage_id: int, runs: int = 1) -> "dict[str, float]":
    """Metrics of the completed stages with id > ``after_stage_id``, summed
    and divided by ``runs`` (``max_task_s`` is the longest single task).

    ``python_s`` is run time minus JVM CPU time on stages whose RDD scope
    names a Python operator: the time the task thread waited on its Python
    worker, plus its own waits."""
    st, stages = _stages(spark)
    tot = {"stages": 0, "stage_run_s": 0.0, "jvm_cpu_s": 0.0, "python_s": 0.0,
           "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "tasks": 0, "max_task_s": 0.0}
    for s in stages:
        if s.stageId() <= after_stage_id or str(s.status()) != "COMPLETE":
            continue
        run_s = s.executorRunTime() / 1e3
        cpu_s = s.executorCpuTime() / 1e9
        tot["stages"] += 1
        tot["stage_run_s"] += run_s
        tot["jvm_cpu_s"] += cpu_s
        tot["gc_s"] += s.jvmGcTime() / 1e3
        tot["shuffle_read_bytes"] += s.shuffleReadBytes()
        tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        tot["tasks"] += s.numCompleteTasks()
        if _runs_python(st, s.stageId()):
            tot["python_s"] += max(0.0, run_s - cpu_s)
        tasks = st.taskList(s.stageId(), s.attemptId(), 1_000_000)
        for j in range(tasks.size()):
            d = tasks.apply(j).duration()
            if d.isDefined():
                tot["max_task_s"] = max(tot["max_task_s"], d.get() / 1e3)
    return {k: v if k == "max_task_s" else v / runs for k, v in tot.items()}


def _runs_python(status_store, stage_id: int) -> bool:
    """True when the stage's RDD operation scopes name a Python operator."""
    todo = [status_store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        c = todo.pop()
        if any(op in c.name() for op in _PY_OPS):
            return True
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def _p50(xs: "list[float]") -> float:
    return statistics.median(xs) if xs else 0.0


def stream_layers(progress: "list[dict]", write_times: "list[float]") -> "dict[str, float]":
    """Per-batch breakdown of a stream from its progress events.

    ``write_times`` are the wall-clock times the generator made each input
    file visible; the backlog at a batch is files visible at its trigger
    minus files consumed before it."""
    data = [p for p in progress if p["numInputRows"] > 0]
    empty = [p for p in progress if p["numInputRows"] == 0]

    def dur(p, key):
        return p["durationMs"].get(key, 0) / 1e3

    consumed, backlog = 0, 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        t = p["ts"]
        visible = sum(1 for w in write_times if w <= t)
        backlog = max(backlog, visible - consumed)
        if p["numInputRows"] > 0:
            consumed += 1
    state = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    flush_wait = 0.0
    if data:
        last_data_end = max(p["ts"] + dur(p, "triggerExecution") for p in data)
        # the timeout flush removes the group's state in an empty batch; the
        # buffered tail waits from the last input batch's end to its end
        flush = [p for p in empty if p["stateOperators"]
                 and p["stateOperators"][0].get("numRowsRemoved", 0) > 0
                 and p["ts"] >= last_data_end]
        if flush:
            first = min(flush, key=lambda p: p["ts"])
            flush_wait = first["ts"] + dur(first, "triggerExecution") - last_data_end
    return {
        "trigger_s": _p50([dur(p, "triggerExecution") for p in data]),
        "add_batch_s": _p50([dur(p, "addBatch") for p in data]),
        "query_planning_s": _p50([dur(p, "queryPlanning") for p in data]),
        "wal_commit_s": _p50([dur(p, "walCommit") for p in data]),
        "commit_offsets_s": _p50([dur(p, "commitOffsets") for p in data]),
        "state_commit_ms": _p50([float(p["stateOperators"][0].get("commitTimeMs", 0))
                                 for p in data if p["stateOperators"]]),
        "state_rows_max": max((s.get("numRowsTotal", 0) for s in state), default=0),
        "state_memory_bytes_max": max((s.get("memoryUsedBytes", 0) for s in state), default=0),
        "batches": len(data),
        "empty_batches": len(empty),
        "input_backlog_files_max": backlog,
        "flush_wait_s": flush_wait,
        "rows_per_batch": _p50([float(p["numInputRows"]) for p in data]),
    }
