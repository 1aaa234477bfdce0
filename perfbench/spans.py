"""Spans around layer calls, and Spark's own metrics for each span.

A span records (name, start, end, parent span, run id) and owns a Spark job
group, so every job a layer call starts can be found again in the local UI's
REST API.  Spans stay in memory; `stage_metrics` reads the REST API once,
after the traced work, and `exchanges` counts Exchange nodes in the final
(adaptive) plans of the SQL executions each span ran.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from dataclasses import dataclass, field

# stage fields summed per span, and the names they are reported under
_STAGE_FIELDS = {
    "executorRunTime": "task_ms",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
}
_EXCHANGE_NODES = ("Exchange", "BroadcastExchange")
_LISTENER_WAIT_S = 30.0  # longest wait for the UI to see every job end


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}-{self.span_id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch.
    It starts disabled."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent.span_id if parent else None,
                  self.run_id, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sum(c.seconds for c in self.spans if c.parent == sp.span_id)
        return sp.seconds - kids

    # -- Spark metrics from the local UI ---------------------------------

    def _get(self, path: str):
        base = self.sc.uiWebUrl.rstrip("/")
        app = self.sc.applicationId
        url = f"{base}/api/v1/applications/{app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def collect_stage_metrics(self) -> None:
        """Attach summed stage metrics and exchange counts to every span.

        The UI's status store is fed by the listener bus, which trails the
        jobs themselves; poll until every job of a traced group is done."""
        if not self.spans:
            return
        groups = {sp.group: sp for sp in self.spans}
        deadline = time.monotonic() + _LISTENER_WAIT_S
        while True:
            jobs = [j for j in self._get("jobs")
                    if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or \
                    time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        for j in jobs:
            job_group[j["jobId"]] = j["jobGroup"]
            for sid in j.get("stageIds", []):
                stage_group[sid] = j["jobGroup"]
        for sp in self.spans:
            sp.stages = {v: 0 for v in _STAGE_FIELDS.values()}
            sp.stages.update(jobs=0, stages=0, exchanges=0)
        for j in jobs:
            groups[j["jobGroup"]].stages["jobs"] += 1
        for st in self._get("stages"):
            grp = stage_group.get(st["stageId"])
            if grp is None or st.get("status") == "SKIPPED":
                continue
            acc = groups[grp].stages
            acc["stages"] += 1
            for src, dst in _STAGE_FIELDS.items():
                acc[dst] += int(st.get(src, 0))
        sql = self._get("sql?details=true&planDescription=false"
                        "&offset=0&length=100000")
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            grp = next((job_group[i] for i in ids if i in job_group), None)
            if grp is None:
                continue
            groups[grp].stages["exchanges"] += sum(
                1 for n in ex.get("nodes", [])
                if n.get("nodeName") in _EXCHANGE_NODES)

    def records(self) -> list[dict]:
        return [{"name": sp.name, "span_id": sp.span_id,
                 "parent": sp.parent, "run_id": sp.run_id,
                 "start": sp.start, "end": sp.end,
                 "self_s": self.self_seconds(sp), "attrs": sp.attrs,
                 "spark": sp.stages} for sp in self.spans]
