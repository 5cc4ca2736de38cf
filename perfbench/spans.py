"""Spans and engine counters for the traced run.

The benchmark times its own calls into each layer's public functions.
With tracing on, every such call is also recorded as a span (name,
layer, start, end, parent, request id) and runs under a Spark job group
named after the span, so the Spark jobs and stages it launched can be
read back from Spark's status store and attached as child spans.
Streaming micro-batches become spans built from their
``StreamingQueryProgress``; their phases become child spans.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Stage counters summed per job group (name in StageData -> metric name).
STAGE_COUNTERS = {
    "inputBytes": "scan_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "numTasks": "tasks",
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str = ""
    attrs: dict = field(default_factory=dict)


class StatusStore:
    """Reads jobs and stages of one job group from Spark's status store."""

    def __init__(self, sc):
        self.sc = sc
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def jobs(self, group: str) -> list[dict]:
        out = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(job_id)
            stages = []
            it = jd.stageIds().iterator()
            while it.hasNext():
                stages.extend(self._stage(it.next()))
            out.append({
                "job": job_id,
                "start": _epoch(jd.submissionTime()),
                "end": _epoch(jd.completionTime()),
                "stages": stages,
            })
        return out

    def _stage(self, stage_id: int) -> list[dict]:
        seq = self._store.stageData(
            stage_id, False, self._no_status, False, self._no_quantiles
        )
        out = []
        for i in range(seq.size()):
            d = seq.apply(i)
            if str(d.status()) == "SKIPPED":
                continue
            rec = {k: int(getattr(d, k)()) for k in STAGE_COUNTERS}
            rec.update(
                stage=stage_id,
                start=_epoch(d.submissionTime()),
                end=_epoch(d.completionTime()),
            )
            out.append(rec)
        return out


def _epoch(opt) -> float | None:
    """scala ``Option[java.util.Date]`` -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Times layer calls; with ``enabled`` also records spans and sets a
    Spark job group per call. Layer calls do not nest. Thread-safe:
    dashboard clients call it from several threads, and Spark job groups
    are thread-local."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.store = StatusStore(self.sc) if enabled else None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        #: seconds the tracer itself spent reading the status store
        self.collect_s = 0.0

    @contextmanager
    def span(self, layer: str, name: str, request: str = ""):
        """Time one layer call. Yields the Span (its ``end`` and
        ``attrs`` are filled when the block exits); when tracing is on
        the call's Spark jobs are read back and attached as children."""
        with self._lock:
            sp = Span(next(self._ids), name, layer, time.time(),
                      request=request)
        group = f"bench-{sp.sid}"
        if self.enabled:
            self.sc.setJobGroup(group, f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.attach(sp, group)
                with self._lock:
                    self.spans.append(sp)

    def attach(self, sp: Span, group: str) -> None:
        """Add the jobs and stages of Spark job group ``group`` as child
        spans of ``sp`` and sum their stage counters into ``sp.attrs``."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        jobs = self.store.jobs(group)
        totals = {k: sp.attrs.get(k, 0) for k in STAGE_COUNTERS.values()}
        totals["jobs"] = sp.attrs.get("jobs", 0) + len(jobs)
        for job in jobs:
            js = self.add(Span(0, f"job {job['job']}", "spark",
                               job["start"] or sp.start,
                               job["end"] or sp.end, parent=sp.sid,
                               request=sp.request))
            for st in job["stages"]:
                self.add(Span(0, f"stage {st['stage']}", "spark",
                              st["start"] or js.start, st["end"] or js.end,
                              parent=js.sid, request=sp.request,
                              attrs={STAGE_COUNTERS[k]: st[k]
                                     for k in STAGE_COUNTERS}))
                for k, name in STAGE_COUNTERS.items():
                    totals[name] += st[k]
        sp.attrs.update(totals)
        self.collect_s += time.perf_counter() - t0

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up is not reported)."""
        with self._lock:
            self.spans.clear()
        self.collect_s = 0.0

    def add(self, sp: Span) -> Span:
        """Record an externally built span (e.g. a micro-batch)."""
        if not self.enabled:
            return sp
        with self._lock:
            if not sp.sid:
                sp.sid = next(self._ids)
            self.spans.append(sp)
        return sp

    # -- reports ---------------------------------------------------------

    def self_time(self) -> dict[str, float]:
        """Seconds per layer not covered by the span's children."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            kids = [(max(c.start, sp.start), min(c.end, sp.end))
                    for c in children.get(sp.sid, [])]
            covered = _union_length([k for k in kids if k[1] > k[0]])
            out[sp.layer] = out.get(sp.layer, 0.0) + max(
                0.0, sp.end - sp.start - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: (s.start, s.sid)):
                fh.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "layer": sp.layer,
                    "start": round(sp.start, 6), "end": round(sp.end, 6),
                    "parent": sp.parent, "request": sp.request,
                    **({"attrs": sp.attrs} if sp.attrs else {}),
                }) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
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
