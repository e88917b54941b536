"""Tracing for the benchmark's traced run.

Three sources, all recorded from the benchmark's own files:

- *spans* around every call into a layer. ``install_shims`` wraps the
  engine's public entry points (``session.get_spark``,
  ``session.tune_session``, ``sources.load_table``,
  ``sources.register_views``) before ``registry`` and the operator
  modules import them, so calls made from inside query builders are
  seen too. The benchmark opens the remaining spans itself (construct,
  execute, KV verbs, MapReduce). Spans record only while
  ``TRACER.enabled`` is set; otherwise a shim costs one flag test.
- *Spark's event log*, enabled only for the traced phase, parsed after
  the session stops: jobs, stages, tasks, shuffle, spill, GC and
  executor run time. Jobs are attributed to spans by submission time
  (one client thread, so windows do not overlap).
- a ``StreamingQueryListener`` collecting each micro-batch's progress.
"""

from __future__ import annotations

import datetime as _dt
import functools
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            next(self._ids),
            self._stack[-1].id if self._stack else None,
            name,
            time.time(),
            attrs=attrs,
        )
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def take(self) -> list[Span]:
        """Return and forget the finished spans."""
        out, self.spans = self.spans, []
        return out


TRACER = Tracer()


def _wrap(fn, span_name: str, attr_fn=None):
    @functools.wraps(fn)
    def shim(*args, **kwargs):
        if not TRACER.enabled:
            return fn(*args, **kwargs)
        attrs = attr_fn(*args, **kwargs) if attr_fn else {}
        with TRACER.span(span_name, **attrs):
            return fn(*args, **kwargs)

    shim.__wrapped_by_perfbench__ = True
    return shim


def install_shims() -> None:
    """Wrap the engine's public entry points. Must run before
    ``distributed_map_reduce_spark.registry`` (or any operator module) is
    imported, because they bind these names at import time."""
    import sys

    if "distributed_map_reduce_spark.registry" in sys.modules:
        raise RuntimeError("install_shims must run before the registry is imported")
    from distributed_map_reduce_spark import session, sources
    from distributed_map_reduce_spark.sources import catalog

    if getattr(session.tune_session, "__wrapped_by_perfbench__", False):
        return
    session.get_spark = _wrap(session.get_spark, "session.get_spark")
    session.tune_session = _wrap(session.tune_session, "registry.tune_session")
    load = _wrap(
        catalog.load_table,
        "sources.load_table",
        lambda *a, **k: {"table": k.get("name", a[2] if len(a) > 2 else None)},
    )
    views = _wrap(catalog.register_views, "sources.register_views")
    for mod in (catalog, sources):
        mod.load_table = load
        mod.register_views = views


# --------------------------------------------------------------------------
# Spark event log


def _acc(stage_info: dict) -> dict[str, float]:
    out = {}
    for a in stage_info.get("Accumulables", []):
        name = a.get("Name", "")
        if name.startswith("internal.metrics."):
            try:
                out[name[len("internal.metrics."):]] = float(a.get("Value", 0))
            except (TypeError, ValueError):
                pass
    return out


def parse_event_log(path: str) -> list[dict]:
    """Jobs from a Spark JSON event log, each with its submission time (s),
    group, and the summed metrics of its completed stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    failed_tasks: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "t": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {"tasks": info.get("Number of Tasks", 0), **_acc(info)}
            elif kind == "SparkListenerTaskEnd":
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    sid = ev.get("Stage ID")
                    failed_tasks[sid] = failed_tasks.get(sid, 0) + 1
    for j in jobs.values():
        j.update(stages=0, tasks=0, tasks_failed=0, shuffle_read=0.0, shuffle_write=0.0,
                 spill=0.0, gc_ms=0.0, run_ms=0.0)
    for sid, st in stages.items():
        j = jobs.get(stage_job.get(sid))
        if j is None:
            continue
        j["stages"] += 1
        j["tasks"] += st["tasks"]
        j["tasks_failed"] += failed_tasks.get(sid, 0)
        j["shuffle_read"] += st.get("shuffle.read.remoteBytesRead", 0) + st.get(
            "shuffle.read.localBytesRead", 0
        )
        j["shuffle_write"] += st.get("shuffle.write.bytesWritten", 0)
        j["spill"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        j["gc_ms"] += st.get("jvmGCTime", 0)
        j["run_ms"] += st.get("executorRunTime", 0)
    return sorted(jobs.values(), key=lambda j: j["t"])


def latest_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    return max(files, key=os.path.getmtime)


def event_log_confs(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        # Spark 4 writes a rolling directory by default; one file is simpler.
        "spark.eventLog.rolling.enabled": "false",
    }


# --------------------------------------------------------------------------
# Streaming progress


def _iso_to_epoch(ts: str) -> float:
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_progress_listener(sink: list):
    """A StreamingQueryListener appending one dict per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            sink.append(
                {
                    "t": _iso_to_epoch(p.timestamp),
                    "trigger_ms": d.get("triggerExecution", 0),
                    "add_batch_ms": d.get("addBatch", 0),
                    "wal_commit_ms": d.get("walCommit", 0),
                    "query_planning_ms": d.get("queryPlanning", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
