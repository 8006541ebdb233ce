"""Span tracing from the benchmark's side of the package boundary.

``Tracer.install()`` wraps the engine's public entry points that run Spark
actions. Each call becomes a span (name, start, end, parent, run id) and
runs under its own Spark job group, so the jobs it launches can be read
back afterwards (``statusTracker().getJobIdsForGroup``) together with their
stage metrics (``statusStore().lastStageAttempt``). Nested spans set their
own group, so every job is attributed to the innermost span that ran it.
Spans stay in memory; ``harvest()`` reads the Spark metrics once, when the
run ends. Lazy layers (a DataFrame builder returns before any work runs)
are not wrapped here: the benchmark times them by isolated runs instead.
"""

from __future__ import annotations

import itertools
import threading
import time

from perfbench.stats import clipped, self_times, union_length

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._undo: list = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str, note=None) -> None:
        """Replace ``owner.attr`` with a spanned version (undone by
        ``uninstall``). ``note(result)`` returns fields to add to the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if note is not None:
                    rec.update(note(out))
                return out

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from migration_pair_spark.cdc import runner
        from migration_pair_spark.lakehouse.table import LakeTable
        from migration_pair_spark.operators import incremental as inc

        self.wrap(runner, "apply_cdc_batch", "cdc.apply")
        for meth in ("replace_buckets", "append_buckets", "compact"):
            self.wrap(LakeTable, meth, f"lakehouse.{meth}")
        # append_delta_buckets returns (version, relpaths of the added files)
        self.wrap(LakeTable, "append_delta_buckets", "lakehouse.append_delta_buckets",
                  note=lambda out: {"files_added": len(out[1])})
        self.wrap(inc.IncrementalDeduper, "ingest", "operators.incremental.dedup")
        self.wrap(inc.IncrementalChunkIndex, "ingest", "operators.incremental.chunk")
        self.wrap(inc.IncrementalEmbeddingIndex, "ingest", "operators.incremental.embedding")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------------ metrics

    def harvest(self) -> None:
        """Attach Spark job/stage metrics and self times to every span."""
        time.sleep(0.5)  # let the listener bus deliver the last stage events
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            stages = []
            jobs = list(tracker.getJobIdsForGroup(s["group"]))
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    stages.append(_stage_metrics(store, sid))
            stages = [st for st in stages if st is not None]
            s["jobs"] = len(jobs)
            s["stages"] = len(stages)
            s["tasks"] = sum(st["tasks"] for st in stages)
            s["executor_run_s"] = sum(st["run_ms"] for st in stages) / 1000.0
            s["shuffle_read_bytes"] = sum(st["shuffle_read"] for st in stages)
            s["shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages)
            s["input_bytes"] = sum(st["input"] for st in stages)
            s["stage_intervals"] = [(st["start"], st["end"]) for st in stages if st["end"]]
        selfs = self_times(self.spans)
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
            # driver-only: self time not covered by a child span or by any
            # stage that ran for this span's own job group
            busy = clipped(
                s["stage_intervals"] + children.get(s["id"], []), s["start"], s["end"]
            )
            s["driver_only_s"] = (s["end"] - s["start"]) - union_length(busy)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def tree_stats(self, root: dict) -> dict:
        """Spark totals of a harvested span and its descendants, plus the
        part of its wall that no stage of the subtree covers (driver-only
        time)."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        spans, todo = [], [root]
        while todo:
            s = todo.pop()
            spans.append(s)
            todo.extend(kids.get(s["id"], []))
        stages = [iv for s in spans for iv in s["stage_intervals"]]
        wall = root["end"] - root["start"]
        return {
            "wall_s": wall,
            "jobs": sum(s["jobs"] for s in spans),
            "executor_run_s": sum(s["executor_run_s"] for s in spans),
            "shuffle_bytes": sum(
                s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in spans
            ),
            "driver_only_s": wall - union_length(clipped(stages, root["start"], root["end"])),
        }


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        stack = t._stack()
        sid = next(t._ids)
        self.rec = {
            "id": sid,
            "name": self.name,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": t.run_id,
            "group": f"{t.run_id}-{sid}",
        }
        self.prev_group = t.sc.getLocalProperty(_GROUP_PROP)
        t.sc.setLocalProperty(_GROUP_PROP, self.rec["group"])
        stack.append(self.rec)
        # wall-clock epoch seconds: comparable with Spark's stage timestamps
        self.rec["start"] = time.time()
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.time()
        t._stack().pop()
        t.sc.setLocalProperty(_GROUP_PROP, self.prev_group)
        t.spans.append(self.rec)
        return False


def _stage_metrics(store, sid: int):
    try:
        st = store.lastStageAttempt(sid)
    except Exception:  # evicted from the store or never submitted
        return None

    def ts(opt):
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    return {
        "tasks": int(st.numTasks()),
        "run_ms": int(st.executorRunTime()),
        "shuffle_read": int(st.shuffleReadBytes()),
        "shuffle_write": int(st.shuffleWriteBytes()),
        "input": int(st.inputBytes()),
        "start": ts(st.submissionTime()),
        "end": ts(st.completionTime()),
    }
