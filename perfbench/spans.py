"""Runtime spans around the engine's public layer entry points.

The traced run wraps methods of the engine's classes from outside — no
engine file is edited. Each wrapper records a span (name, start, end,
parent span, epoch id) in memory; :meth:`Tracer.write` dumps them as
JSON lines when the run ends. A layer's self time is its span's
duration minus the time covered by its direct child spans.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    epoch: int | None
    attrs: dict

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans from every thread: the streaming tailer runs
    ``apply_epoch`` on the py4j callback thread, the replay loop on the
    main thread, so the open-span stack is per thread."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._next_id = 0
        self._restore: list[tuple] = []

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
            self._tls.epoch = None
        return self._tls.stack

    def wrap(self, owner, attr: str, name: str, attrs_of=None, epoch_arg: int | None = None):
        """Replace ``owner.attr`` by a span-recording wrapper.

        ``attrs_of(args, result) -> dict`` adds counts to the span;
        ``epoch_arg`` is the positional index of an epoch id argument,
        which then labels every span opened inside this one."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            with tracer._lock:
                sid = tracer._next_id
                tracer._next_id += 1
            parent = stack[-1] if stack else None
            prev_epoch = tracer._tls.epoch
            if epoch_arg is not None:
                tracer._tls.epoch = int(args[epoch_arg])
            group = tracer._begin_job_group(sid) if epoch_arg is not None else None
            stack.append(sid)
            start = time.perf_counter()
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                end = time.perf_counter()
                stack.pop()
                attrs = attrs_of(args, result) if attrs_of and result is not None else {}
                if group is not None:
                    attrs.update(tracer._end_job_group(group))
                span = Span(sid, name, start, end, parent, tracer._tls.epoch, attrs)
                tracer._tls.epoch = prev_epoch
                with tracer._lock:
                    tracer.spans.append(span)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    _GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description")

    def _begin_job_group(self, sid: int) -> tuple:
        """Tag the calling thread's jobs with a group of their own. The
        streaming tailer calls back on the stream's thread, whose own
        job group is restored afterwards."""
        sc = self.spark.sparkContext
        saved = [sc.getLocalProperty(k) for k in self._GROUP_PROPS]
        group = f"perfbench-span-{sid}"
        sc.setJobGroup(group, group)
        return group, saved

    def _end_job_group(self, token: tuple) -> dict:
        """Jobs and completed tasks the group ran, from statusTracker."""
        group, saved = token
        sc = self.spark.sparkContext
        for k, v in zip(self._GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                st = tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st else 0
        return {"jobs": len(jobs), "tasks": tasks}

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def self_times(self, name: str) -> list[float]:
        """Self time of every span called ``name``."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.dur
        return [s.dur - child_time.get(s.id, 0.0) for s in self.spans if s.name == name]

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


# LakeTable entry points the workloads reach: CoW merges overwrite
# buckets, MOR epochs append and MOR compaction overwrites everything;
# bookkeeping tables append through pandas
TABLE_OPS = ("overwrite_buckets", "overwrite_all", "append", "append_pandas", "read")


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the public entry point of every layer the benchmark reports."""
    from getl_spark.checkpoint import CheckpointManager
    from getl_spark.lake.merge import MergeBuilder
    from getl_spark.lake.table import LakeTable
    from getl_spark.lineage import LineageRecorder
    from getl_spark.pipeline import CDCPipeline
    from getl_spark.streaming import StreamingTailer

    def merge_attrs(args, res):
        if res.get("skipped"):
            return {"rows_rewritten": 0, "buckets_touched": 0}
        return {
            "rows_rewritten": int(res["snapshot"]["summary"].get("added_rows", 0)),
            "buckets_touched": len(res.get("touched_buckets") or []),
        }

    tracer.wrap(CDCPipeline, "apply_epoch", "pipeline.apply_epoch", epoch_arg=2)
    tracer.wrap(CDCPipeline, "compact", "pipeline.compact")
    tracer.wrap(MergeBuilder, "execute", "lake.merge.execute", attrs_of=merge_attrs)
    for op in TABLE_OPS:
        tracer.wrap(LakeTable, op, f"lake.table.{op}")
    tracer.wrap(LineageRecorder, "write", "lineage.write")
    tracer.wrap(CheckpointManager, "save", "checkpoint.save")
    tracer.wrap(CheckpointManager, "last", "checkpoint.last")
    tracer.wrap(StreamingTailer, "run_available_now", "streaming.run_available_now")
