"""Tracing for the traced run: spans, Spark's own records, attribution.

Spans (name, layer, start, end, parent) are recorded in memory around the
benchmark's calls into each layer, then extended from Spark's own records:

* ``StreamingQuery.recentProgress`` gives each micro-batch's trigger window
  and its phases (``latestOffset``, ``walCommit``, ``getBatch``,
  ``queryPlanning``, ``addBatch``, ``commitOffsets``);
* the uncompressed JSON event log gives every stage's window and summed
  task metrics, including the Python-runner and scan SQL metrics.

A stage's window is split among layers in proportion to its summed task
time: Python-runner time goes to ``operators``, scan time to ``sources``,
task commit time to ``sinks.exactly_once``, state-store commit and
eviction time to ``streaming`` and the rest stays with ``stage`` (JVM
execution, shuffle read, the join itself and the output write). Python time
is further split among ``codec``, ``kernels.spa`` and ``kernels.sunrise`` by
the single-thread kernel costs measured on the workload's own inputs times
the rows processed; these three are modelled, not observed.

Self time along the blocking path: each instant of an iteration's wall is
credited to the deepest spans covering it (shared equally when concurrent
stages overlap). Instants only the iteration's root covers are
``unattributed``.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

#: the layers a traced run reports self time for
LAYERS = ("sources", "codec", "kernels.spa", "kernels.sunrise", "operators",
          "stage", "streaming", "sinks.exactly_once")

# SQL metric names as Spark 4.1 writes them into stage accumulables
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
SCAN = "scan time"
TASK_COMMIT = "task commit time"
# state-store time of its own; "time to update" is left out because it spans
# the whole input drain (shuffle read, join, downstream write) of the stage
STATE_TIMES = ("time to remove", "time to commit changes")


@dataclass
class Span:
    name: str
    layer: str | None
    start: float  # epoch seconds
    end: float
    parent: int | None
    tag: str = ""  # on iteration roots: the job group / streaming run id


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None, start: float | None = None):
        idx = self.add(name, layer, start or time.time(), 0.0,
                       self._stack[-1] if self._stack else None)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def add(self, name: str, layer: str | None, start: float, end: float,
            parent: int | None) -> int:
        self.spans.append(Span(name, layer, start, end, parent))
        return len(self.spans) - 1

    def tag_last_root(self, tag: str) -> None:
        for s in reversed(self.spans):
            if s.parent is None:
                s.tag = tag
                return

    def roots(self, tags: set[str]) -> list[int]:
        return [i for i, s in enumerate(self.spans)
                if s.parent is None and s.tag in tags]

    def to_json(self) -> list[dict]:
        return [{"id": i, "name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent, "tag": s.tag}
                for i, s in enumerate(self.spans)]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    stage_id: int
    submit: float  # epoch seconds
    complete: float
    acc: dict[str, float] = field(default_factory=dict)
    task_run_ms: list[float] = field(default_factory=list)
    run_ms: float = 0.0
    deser_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    bytes_read: float = 0.0
    bytes_written: float = 0.0


@dataclass
class Job:
    group: str
    batch_id: int | None
    stage_ids: list[int]


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs and completed stages from the (single, uncompressed) event log
    file Spark wrote under ``log_dir``."""
    (path,) = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".crc")]
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                b = props.get("streaming.sql.batchId")
                jobs.append(Job(props.get("spark.jobGroup.id", ""),
                                int(b) if b is not None else None,
                                list(e["Stage IDs"])))
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"], 0, 0))
                st.task_run_ms.append(m["Executor Run Time"])
                st.run_ms += m["Executor Run Time"]
                st.deser_ms += m["Executor Deserialize Time"]
                st.cpu_ms += m["Executor CPU Time"] / 1e6
                st.gc_ms += m["JVM GC Time"]
                sr = m["Shuffle Read Metrics"]
                st.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                st.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                st.bytes_read += m["Input Metrics"]["Bytes Read"]
                st.bytes_written += m["Output Metrics"]["Bytes Written"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" not in info:
                    continue  # skipped stage
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], 0, 0))
                st.submit = info["Submission Time"] / 1000
                st.complete = info["Completion Time"] / 1000
                for a in info.get("Accumulables", []):
                    try:
                        st.acc[a["Name"]] = float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
    return jobs, {k: v for k, v in stages.items() if v.complete > 0}


# ---------------------------------------------------------------------------
# spans from Spark's records
# ---------------------------------------------------------------------------


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class KernelModel:
    """Single-thread ns per row of the kernels a Python stage runs; used to
    split Python-runner time among codec and kernel layers."""

    ns_per_row: dict[str, float]  # layer -> ns per processed row

    def shares(self, rows: int, py_ms: float) -> list[tuple[str, float]]:
        if py_ms <= 0:
            return []
        want = [(layer, rows * ns / 1e6) for layer, ns in self.ns_per_row.items()]
        total = sum(ms for _, ms in want)
        scale = min(1.0, py_ms / total) if total > 0 else 0.0
        return [(layer, ms * scale / py_ms) for layer, ms in want]


def _add_stage(tr: Tracer, st: Stage, parent: int, rows: int, model: KernelModel,
               py_total_ms: float) -> None:
    p = tr.spans[parent]
    s0, s1 = max(st.submit, p.start), min(st.complete, p.end)
    if s1 <= s0:
        return
    sid = tr.add(f"stage {st.stage_id}", "stage", s0, s1, parent)
    task_ms = st.run_ms + st.deser_ms
    if task_ms <= 0:
        return
    parts = [("operators", st.acc.get(PY_RUN, 0.0)),
             ("sources", st.acc.get(SCAN, 0.0)),
             ("sinks.exactly_once", st.acc.get(TASK_COMMIT, 0.0)),
             ("streaming", sum(st.acc.get(k, 0.0) for k in STATE_TIMES))]
    named = sum(ms for _, ms in parts)
    scale = min(1.0, task_ms / named) if named > 0 else 0.0
    t = s0
    for layer, ms in parts:
        d = (s1 - s0) * ms * scale / task_ms
        if d <= 0:
            continue
        child = tr.add(f"{layer} in stage {st.stage_id}", layer, t, t + d, sid)
        if layer == "operators":
            # the batch's Python time is split by the kernels' modelled cost
            k = t
            for kl, share in model.shares(rows, py_total_ms):
                tr.add(f"{kl} (modelled)", kl, k, k + d * share, child)
                k += d * share
        t += d


def add_stream_spans(tr: Tracer, root: int, progress: list[dict], jobs: list[Job],
                     stages: dict[int, Stage], model: KernelModel,
                     batch_records) -> None:
    """Micro-batch phase spans from the query progress, with the stages each
    batch ran under its ``addBatch`` phase. ``batch_records(progress)`` gives
    the input records of one micro-batch."""
    tag = tr.spans[root].tag
    for p in progress:
        d = p["durationMs"]
        start = _epoch(p["timestamp"])
        end = start + d.get("triggerExecution", 0) / 1000
        b = tr.add(f"batch {p['batchId']}", "streaming", start, end, root)
        t = start
        for key, layer in (("latestOffset", "sources"), ("walCommit", "streaming"),
                           ("getBatch", "sources"), ("queryPlanning", "streaming")):
            dur = d.get(key, 0) / 1000
            tr.add(key, layer, t, t + dur, b)
            t += dur
        c0 = end - d.get("commitOffsets", 0) / 1000
        tr.add("commitOffsets", "streaming", c0, end, b)
        a = tr.add("addBatch", "sinks.exactly_once",
                   max(t, c0 - d.get("addBatch", 0) / 1000), c0, b)
        batch_stages = [stages[s] for j in jobs
                        if j.group == tag and j.batch_id == p["batchId"]
                        for s in j.stage_ids if s in stages]
        py_total = sum(s.acc.get(PY_RUN, 0.0) for s in batch_stages)
        # each scanning Python stage decodes the batch once
        n_decode = sum(1 for s in batch_stages
                       if s.acc.get(SCAN, 0) > 0 and s.acc.get(PY_RUN, 0) > 0)
        rows = batch_records(p)
        m = KernelModel({k: v * (n_decode if k == "codec" else 1)
                         for k, v in model.ns_per_row.items()})
        for st in batch_stages:
            _add_stage(tr, st, a, rows, m, py_total)


def add_batch_query_spans(tr: Tracer, root: int, rows: int, jobs: list[Job],
                          stages: dict[int, Stage], model: KernelModel) -> None:
    """The stages of one batch query (jobs tagged with its job group)."""
    tag = tr.spans[root].tag
    q_stages = [stages[s] for j in jobs if j.group == tag
                for s in j.stage_ids if s in stages]
    py_total = sum(s.acc.get(PY_RUN, 0.0) for s in q_stages)
    for st in q_stages:
        _add_stage(tr, st, root, rows, model, py_total)


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def blocking_path_self_ms(tr: Tracer, roots: list[int]) -> dict[str, float]:
    """Credit every instant of each root's wall to the deepest spans covering
    it; returns ms per layer plus ``unattributed`` (root-only instants)."""
    depth: dict[int, int] = {}

    def depth_of(i: int) -> int:
        if i not in depth:
            p = tr.spans[i].parent
            depth[i] = 0 if p is None else depth_of(p) + 1
        return depth[i]

    def root_of(i: int) -> int:
        while tr.spans[i].parent is not None:
            i = tr.spans[i].parent
        return i

    credit = {layer: 0.0 for layer in LAYERS}
    credit["unattributed"] = 0.0
    by_root: dict[int, list[int]] = {r: [] for r in roots}
    for i in range(len(tr.spans)):
        r = root_of(i)
        if r in by_root:
            by_root[r].append(i)
    for r, members in by_root.items():
        rs = tr.spans[r]
        cuts = sorted({rs.start, rs.end, *(
            min(max(x, rs.start), rs.end)
            for i in members for x in (tr.spans[i].start, tr.spans[i].end))})
        for a, b in zip(cuts, cuts[1:]):
            cover = [i for i in members
                     if tr.spans[i].start <= a and tr.spans[i].end >= b]
            deepest = max(depth_of(i) for i in cover)
            leaves = [i for i in cover if depth_of(i) == deepest]
            for i in leaves:
                layer = tr.spans[i].layer or "unattributed"
                credit[layer] += (b - a) * 1000 / len(leaves)
    return credit


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def stage_metrics(jobs: list[Job], stages: dict[int, Stage], tags: set[str],
                  n_iter: int) -> tuple[dict[str, float], list[Stage]]:
    """Summed stage metrics of the traced iterations, per iteration."""
    sel = {s for j in jobs if j.group in tags for s in j.stage_ids if s in stages}
    ss = [stages[s] for s in sorted(sel)]
    per = max(n_iter, 1)
    skews = [max(s.task_run_ms) / statistics.median(s.task_run_ms)
             for s in ss if len(s.task_run_ms) >= 2 and statistics.median(s.task_run_ms) > 0]
    out = {
        "operators.py_run_ms": sum(s.acc.get(PY_RUN, 0.0) for s in ss) / per,
        "operators.py_init_ms": sum(s.acc.get(PY_INIT, 0.0) for s in ss) / per,
        "operators.bytes_to_py": sum(s.acc.get(PY_SENT, 0.0) for s in ss) / per,
        "operators.bytes_from_py": sum(s.acc.get(PY_BACK, 0.0) for s in ss) / per,
        "stage.executor_run_ms": sum(s.run_ms for s in ss) / per,
        "stage.cpu_ms": sum(s.cpu_ms for s in ss) / per,
        "stage.gc_ms": sum(s.gc_ms for s in ss) / per,
        "stage.shuffle_read_bytes": sum(s.shuffle_read for s in ss) / per,
        "stage.shuffle_write_bytes": sum(s.shuffle_write for s in ss) / per,
        "stage.spill_bytes": sum(s.spill for s in ss) / per,
        "stage.task_skew": _median(skews),
        "sources.input_bytes": sum(s.bytes_read for s in ss) / per,
    }
    return out, ss


def streaming_metrics(progress: list[list[dict]]) -> dict[str, float]:
    """Per-batch medians and per-iteration totals from query progress."""
    batches = [p for it in progress for p in it if p["numInputRows"] > 0]
    d = [p["durationMs"] for p in batches]
    ops = [p.get("stateOperators", []) for it in progress for p in it]
    per = max(len(progress), 1)
    return {
        "sources.get_batch_ms": _median([x.get("getBatch", 0) for x in d]),
        "sources.latest_offset_ms": _median([x.get("latestOffset", 0) for x in d]),
        "sources.input_rows": sum(p["numInputRows"] for it in progress for p in it) / per,
        "streaming.query_planning_ms": _median([x.get("queryPlanning", 0) for x in d]),
        "streaming.add_batch_ms": _median([x.get("addBatch", 0) for x in d]),
        "streaming.wal_commit_ms": _median([x.get("walCommit", 0) for x in d]),
        "streaming.commit_offsets_ms": _median([x.get("commitOffsets", 0) for x in d]),
        "streaming.overhead_ms": _median(
            [x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d]),
        "streaming.state_rows_max": max(
            [sum(o.get("numRowsTotal", 0) for o in b) for b in ops] or [0]),
        "streaming.state_mb_max": max(
            [sum(o.get("memoryUsedBytes", 0) for o in b) for b in ops] or [0]) / 1e6,
        "streaming.state_commit_ms": _median(
            [sum(o.get("commitTimeMs", 0) for o in b) for b in ops if b]),
        "streaming.rows_removed": sum(
            o.get("numRowsRemoved", 0) for b in ops for o in b) / per,
        "streaming.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b),
    }
