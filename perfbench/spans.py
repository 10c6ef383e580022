"""Layer attribution for the traced benchmark run.

Three sources, all read from the benchmark's side of the engine's public
surface:

* **Spans.** ``Tracer.span(layer)`` records (layer, start, end, parent, op)
  in memory. ``install`` wraps the engine's driver-side layer entry points
  (``io.load_table`` ...) before any plan module is imported, so
  ``from ..io import load_table``-style imports bind the wrapper.
* **Spark's event log**, enabled through the session config and parsed after
  the session stops. A job belongs to the op whose span holds its submission
  time (ops never overlap in a closed loop) and to the innermost span there.
* **Stream progress**: ``recentProgress`` of the streams the benchmark
  starts, and a ``StreamingQueryListener`` for streams started inside
  registry keys.

``summarize`` folds the three into the per-layer metrics the benchmark
prints with ``--trace 1``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

#: Engine layers whose self time counts as attributed (everything but the
#: benchmark's own loop and per-op bookkeeping).
ENGINE_LAYERS = (
    "io.load",
    "io.write",
    "plans.build",
    "execute",
    "operators.merge",
    "operators.lease_wait",
    "operators.compaction",
    "streaming.fold",
    "streaming.ingest",
    "vacancy.read",
)


class Tracer:
    """In-memory span recorder. Spans opened on a thread with no open span
    of its own (py4j callbacks, engine thread pools) hang under the span
    open on the thread that created the tracer."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._main = self._stack()
        self._lock = threading.Lock()
        self.counts: dict[str, int] = {}

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    @contextmanager
    def span(self, layer: str, op: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        rec = {"layer": layer, "start": time.time(), "end": None, "parent": parent,
               "op": self.op if op is None else op}
        with self._lock:
            sid = len(self.spans)
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()


def _wrap(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points. Must run before any module
    that imports them by name (plans, streaming) is imported."""
    from vacancy_analyser_spark import io
    from vacancy_analyser_spark.operators import compaction, ixlock, merge
    from vacancy_analyser_spark.vacancy import domain

    io.load_table = _wrap(tracer, "io.load", io.load_table)
    io.write_parquet = _wrap(tracer, "io.write", io.write_parquet)
    merge.merge_snapshots = _wrap(tracer, "operators.merge", merge.merge_snapshots)
    merge.state_max_date = _wrap(tracer, "operators.merge", merge.state_max_date)
    compaction.compact_partitions = _wrap(tracer, "operators.compaction", compaction.compact_partitions)
    for name in ("typed_from_flat", "it_specializations_only"):
        setattr(domain, name, _wrap(tracer, "vacancy.read", getattr(domain, name)))

    try_acquire = ixlock.try_acquire

    def counted_try_acquire(*args, **kwargs):
        got = try_acquire(*args, **kwargs)
        if not got:
            tracer.count("lease_retries")
        return got

    ixlock.try_acquire = counted_try_acquire
    lease = ixlock.maintenance_lease

    @contextmanager
    @functools.wraps(lease)
    def traced_lease(*args, **kwargs):
        cm = lease(*args, **kwargs)
        with tracer.span("operators.lease_wait"):
            cm.__enter__()
        try:
            yield
        except BaseException as e:
            if not cm.__exit__(type(e), e, e.__traceback__):
                raise
        else:
            cm.__exit__(None, None, None)

    ixlock.maintenance_lease = traced_lease


def progress_listener(sink: list):
    """A StreamingQueryListener that appends every progress's JSON to
    ``sink`` (streams started inside registry keys)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Listener()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the single application log under ``log_dir``.
    jobs: {id, submit, stages}; tasks: {job, stage, launch, finish, gc,
    shuffle_read, shuffle_write, spill, input} — times in epoch seconds."""
    # Spark 4 rolls event logs by default: <dir>/eventlog_v2_<app>/events_*
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus"))
    jobs: list[dict] = []
    tasks: list[dict] = []
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs.append({"id": jid, "submit": ev["Submission Time"] / 1000.0,
                                 "stages": ev["Stage IDs"]})
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1000.0,
                        "finish": info["Finish Time"] / 1000.0,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return jobs, tasks


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        end = s["end"] if s["end"] is not None else s["start"]
        kids = [(max(a, s["start"]), min(b, end)) for a, b in children.get(i, []) if min(b, end) > max(a, s["start"])]
        out.append(end - s["start"] - _union(kids))
    return out


def _epoch(iso: str) -> float:
    """Epoch seconds of a progress timestamp such as 2024-01-01T00:00:00.000Z."""
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _covering(spans: list[dict], t: float) -> list[int]:
    return [i for i, s in enumerate(spans) if s["end"] is not None and s["start"] <= t <= s["end"]]


def summarize(tracer: Tracer, jobs: list[dict], tasks: list[dict], progress: list[dict],
              cores: int, extra: dict) -> dict[str, float]:
    """Per-layer metrics of the timed phase. ``extra`` carries counters
    the workload measured itself (scan of layout markers, state sizes)."""
    spans = tracer.spans
    timed = [s for s in spans if s["layer"] == "bench.timed"]
    t0, t1 = timed[0]["start"], timed[0]["end"]
    ops = [s for s in spans if s["layer"] == "bench.op" and t0 <= s["start"] <= t1]
    selfs = self_times(spans)
    layer_self: dict[str, float] = {}
    layer_total: dict[str, float] = {}
    for s, st in zip(spans, selfs):
        if t0 <= s["start"] <= t1:
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + st
            # time a layer's outermost spans cover (nested same-layer
            # calls counted once)
            p = s["parent"]
            if p is None or spans[p]["layer"] != s["layer"]:
                layer_total[s["layer"]] = layer_total.get(s["layer"], 0.0) + (s["end"] - s["start"])

    # jobs → the op that holds their submission, and the layers around it
    job_layers: dict[int, set[str]] = {}
    for j in jobs:
        if not (t0 <= j["submit"] <= t1):
            continue
        job_layers[j["id"]] = {spans[i]["layer"] for i in _covering(spans, j["submit"])}
    timed_jobs = set(job_layers)
    n_jobs = lambda layer: sum(1 for ls in job_layers.values() if layer in ls)  # noqa: E731
    tt = [t for t in tasks if t["job"] in timed_jobs]
    task_s = sum(t["finish"] - t["launch"] for t in tt)
    stages = {t["stage"] for t in tt}

    op_wall = sum(s["end"] - s["start"] for s in ops)
    wall = op_wall
    busy = 0.0
    skews = []
    for s in ops:
        ivs = [(max(t["launch"], s["start"]), min(t["finish"], s["end"])) for t in tt
               if t["finish"] > s["start"] and t["launch"] < s["end"]]
        busy += _union(ivs)
        by_stage: dict[int, list[float]] = {}
        for t in tt:
            if s["start"] <= t["launch"] <= s["end"]:
                by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
        if by_stage:
            slowest = max(by_stage.values(), key=sum)
            med = statistics.median(slowest)
            skews.append(max(slowest) / med if med > 0 else 1.0)

    progress = [p for p in progress if t0 <= _epoch(p["timestamp"]) <= t1]
    fold_like = [p for p in progress if p.get("durationMs")]
    dur = lambda key: sum(p["durationMs"].get(key, 0) for p in fold_like) / 1000.0  # noqa: E731
    attributed = sum(layer_self.get(layer, 0.0) for layer in ENGINE_LAYERS)
    m = {
        "trace.wall_s": wall,
        "trace.coverage": attributed / wall if wall > 0 else 0.0,
        "bench.self_s": layer_self.get("bench.op", 0.0),
        "io.load_calls": sum(1 for s in spans if s["layer"] == "io.load" and t0 <= s["start"] <= t1),
        "io.load_s": layer_total.get("io.load", 0.0),
        "io.load_jobs": n_jobs("io.load"),
        "io.scan_bytes": sum(t["input"] for t in tt),
        "io.layout_rebuilds": extra.get("layout_rebuilds", 0),
        "plans.build_s": layer_total.get("plans.build", 0.0),
        "plans.build_self_s": layer_self.get("plans.build", 0.0),
        "plans.pre_jobs": n_jobs("plans.build"),
        "execute.exec_s": layer_total.get("execute", 0.0),
        "execute.jobs": len(timed_jobs),
        "execute.stages": len(stages),
        "execute.tasks": len(tt),
        "execute.task_s": task_s,
        "execute.busy_share": task_s / (op_wall * cores) if op_wall > 0 else 0.0,
        "execute.idle_s": op_wall - busy,
        "execute.shuffle_read_bytes": sum(t["shuffle_read"] for t in tt),
        "execute.shuffle_write_bytes": sum(t["shuffle_write"] for t in tt),
        "execute.spill_bytes": sum(t["spill"] for t in tt),
        "execute.task_skew": statistics.median(skews) if skews else 0.0,
        "execute.gc_s": sum(t["gc"] for t in tt),
        "operators.merge_s": layer_total.get("operators.merge", 0.0),
        "operators.merge_jobs": n_jobs("operators.merge"),
        "operators.merge_useful_share": extra.get("merge_useful_share", 0.0),
        "operators.lease_wait_s": layer_total.get("operators.lease_wait", 0.0),
        "operators.lease_retries": tracer.counts.get("lease_retries", 0),
        "operators.compaction_s": layer_total.get("operators.compaction", 0.0),
        "streaming.triggers": len(progress),
        "streaming.empty_trigger_share": (
            sum(1 for p in progress if not p.get("numInputRows")) / len(progress) if progress else 0.0
        ),
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.offset_s": dur("latestOffset") + dur("getBatch"),
        "streaming.commit_s": dur("walCommit") + dur("commitOffsets"),
        "streaming.state_rows": extra.get("state_rows", 0),
        "streaming.state_write_bytes": extra.get("state_write_bytes", 0),
        "vacancy.read_s": layer_total.get("vacancy.read", 0.0),
    }
    return m
