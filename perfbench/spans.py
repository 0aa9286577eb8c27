"""Span recorder and Spark job ledger for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
public functions below are wrapped for the length of one traced
iteration, and the original functions are put back afterwards.  Every
span labels the Spark jobs it submits with ``<workload>:<layer>``
through ``SparkContext.setJobDescription``; the ledger then joins the
job and stage metrics of the local Spark REST API to those labels.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Dict, List, Optional

# (module, function, layer label); the label of a write span gets the
# table's directory name appended
WRAPPED = [
    ("mongo2neo_spark.sources.io", "write_table", "write"),
    ("mongo2neo_spark.plans.lineage", "record", "lineage.record"),
    ("mongo2neo_spark.plans.lineage", "completed_keys",
     "lineage.completed_keys"),
    ("mongo2neo_spark.functions.probe", "driver_probe", "probe.driver_probe"),
    ("mongo2neo_spark.operators.link", "driver_link_components",
     "link.driver_link_components"),
    ("mongo2neo_spark.operators.cc", "connected_components_auto",
     "cc.connected_components_auto"),
]
# called inside connected_components_auto only on its distributed venue
CC_DISTRIBUTED = ("mongo2neo_spark.operators.cc", "connected_components")

# size-gated venue layers: the probe and driver link on the KG pipeline,
# the adaptive CC on curation
VENUE_LABELS = ("probe.driver_probe", "link.driver_link_components",
                "cc.connected_components_auto")
# generic layers reported on every workload (see layer_of)
LAYERS = ("root", "write.bucketed", "write.global", "lineage.record",
          "lineage.completed_keys", "venue")


def layer_of(label: str, root: str, bucketed_table: str) -> str:
    """The generic layer of a span label: the root span, the write of the
    bucket-partitioned first-stage table, the writes of the later (global)
    stages, lineage bookkeeping, or a size-gated venue layer."""
    if label == root:
        return "root"
    if label.startswith("write."):
        return ("write.bucketed" if label == f"write.{bucketed_table}"
                else "write.global")
    return "venue" if label in VENUE_LABELS else label


class Span:
    __slots__ = ("label", "parent", "start", "end", "result")

    def __init__(self, label: str, parent: Optional["Span"]):
        self.label = label
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.result = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans and labels the Spark jobs each one submits."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: List[Span] = []
        self.calls: List[tuple] = []   # (label, args, kwargs) of each call
        self.cc_distributed = False
        self._stack: List[Span] = []
        self._saved: List[tuple] = []

    @contextmanager
    def span(self, label: str):
        s = Span(label, self._stack[-1] if self._stack else None)
        self._stack.append(s)
        self.sc.setJobDescription(f"{self.workload}:{label}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            parent = self._stack[-1].label if self._stack else None
            self.sc.setJobDescription(
                f"{self.workload}:{parent}" if parent else None)

    def _wrapper(self, fn, label: str):
        def traced(*args, **kwargs):
            lab = label
            if label == "write":
                target = args[1] if len(args) > 1 else kwargs["target"]
                lab = f"write.{target.rstrip('/').rsplit('/', 1)[-1]}"
            self.calls.append((lab, args, kwargs))
            with self.span(lab) as s:
                s.result = fn(*args, **kwargs)
            return s.result
        return traced

    def _flag_distributed(self, fn):
        def traced(*args, **kwargs):
            self.cc_distributed = True
            return fn(*args, **kwargs)
        return traced

    @contextmanager
    def installed(self):
        """Wrap the layer entry points for the duration of the block."""
        import importlib

        try:
            for mod_name, attr, label in WRAPPED:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                self._saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrapper(fn, label))
            mod = importlib.import_module(CC_DISTRIBUTED[0])
            fn = getattr(mod, CC_DISTRIBUTED[1])
            self._saved.append((mod, CC_DISTRIBUTED[1], fn))
            setattr(mod, CC_DISTRIBUTED[1], self._flag_distributed(fn))
            yield self
        finally:
            for mod, attr, fn in reversed(self._saved):
                setattr(mod, attr, fn)
            self._saved.clear()

    @contextmanager
    def run(self, root_label: str):
        """Wrappers installed and the root span open for one run."""
        with self.installed(), self.span(root_label):
            yield

    def root(self) -> Span:
        return next(s for s in self.spans if s.parent is None)

    def of(self, label: str) -> List[Span]:
        return [s for s in self.spans if s.label == label]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        return span.seconds - covered(
            (c.start, c.end) for c in self.spans if c.parent is span)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark REST ledger
# ---------------------------------------------------------------------------
def _epoch(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


class Rest:
    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, since: float) -> List[dict]:
        """Jobs submitted at or after ``since``, once the listener bus that
        feeds the REST store has drained."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return [j for j in self.get("/jobs")
                if _epoch(j["submissionTime"]) >= since - 0.001]


_STAGE_REF = re.compile(r"stage (\d+)\.(\d+)")
_DURATION = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_TIMES = {"time to run Python workers": "run_s",
             "time to start Python workers": "start_s",
             "time to initialize Python workers": "init_s"}


def _total_seconds(value: str) -> float:
    """Total of a Spark SQL timing metric, e.g. '13.0 s (188 ms, ...)'."""
    num, unit = value.split("\n")[-1].split()[:2]
    return float(num.replace(",", "")) * _DURATION[unit]


def python_udf_metrics(rest: Rest, job_ids: set) -> dict:
    """Python UDF boundary metrics of the given jobs, read off the SQL
    plan metrics of their EvalPython nodes: task-summed seconds spent
    running, starting and initialising Python workers, and the
    (stageId, attempt) of the stages that ran them (a timing metric names
    the stage of its slowest task)."""
    out = {"stages": set(), "run_s": 0.0, "start_s": 0.0, "init_s": 0.0}
    for ex in rest.get("/sql?details=true&planDescription=false"
                       "&offset=0&length=1000000"):
        if not job_ids & set(ex.get("successJobIds", [])
                             + ex.get("failedJobIds", [])):
            continue
        for node in ex.get("nodes", []):
            if "EvalPython" not in node.get("nodeName", ""):
                continue
            for m in node.get("metrics", []):
                value = m.get("value", "")
                for sid, att in _STAGE_REF.findall(value):
                    out["stages"].add((int(sid), int(att)))
                key = _PY_TIMES.get(m.get("name"))
                if key:
                    out[key] += _total_seconds(value)
    return out


def _layer_sums(stages: List[dict]) -> Dict[str, float]:
    run_ms = cpu_ns = rd = wr = spill = tasks = failed = delay_ms = 0
    max_sum = med_sum = 0.0
    for st in stages:
        run_ms += st.get("executorRunTime", 0)
        cpu_ns += st.get("executorCpuTime", 0)
        rd += st.get("shuffleReadBytes", 0)
        wr += st.get("shuffleWriteBytes", 0)
        spill += st.get("diskBytesSpilled", 0)
        tasks += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        failed += st.get("numFailedTasks", 0)
        runs = [t.get("taskMetrics", {}).get("executorRunTime", 0)
                for t in (st.get("tasks") or {}).values()]
        delay_ms += sum(t.get("schedulerDelay", 0)
                        for t in (st.get("tasks") or {}).values())
        if runs:
            max_sum += max(runs)
            med_sum += statistics.median(runs)
    mb = 1024.0 * 1024.0
    return {
        "tasks": tasks,
        "failed_tasks": failed,
        "executor_run_s": run_ms / 1000.0,
        "executor_cpu_s": cpu_ns / 1e9,
        "shuffle_read_mb": rd / mb,
        "shuffle_write_mb": wr / mb,
        "spill_mb": spill / mb,
        # critical-path inflation: how much longer each stage's slowest
        # task ran than its median one, summed over the layer's stages
        "task_max_over_median": (max_sum / med_sum) if med_sum else 1.0,
        "scheduler_delay_s": delay_ms / 1000.0,
    }


class Ledger:
    """Job and stage metrics of the jobs submitted in [since, until],
    grouped by the label of the span that submitted them."""

    def __init__(self, rest: Rest, workload: str, since: float,
                 until: float):
        prefix = f"{workload}:"
        self.jobs = [j for j in rest.settled_jobs(since)
                     if _epoch(j["submissionTime"]) <= until + 0.001]
        self._stages: Dict[int, List[dict]] = {}
        for st in rest.get("/stages?details=true"):
            self._stages.setdefault(st["stageId"], []).append(st)
        self.by_label: Dict[str, List[dict]] = {}
        for j in self.jobs:
            d = j.get("description") or ""
            lab = d[len(prefix):] if d.startswith(prefix) else "<unlabelled>"
            self.by_label.setdefault(lab, []).append(j)

        self.total = self.summary(self.jobs)
        self.total["jobs_under_250ms"] = sum(
            1 for j in self.jobs if _job_seconds(j) < 0.25)
        # wall of the window not covered by any running job
        self.total["driver_gap_s"] = (until - since) - covered(
            (max(_epoch(j["submissionTime"]), since),
             min(_epoch(j["completionTime"]), until)) for j in self.jobs)
        unlabelled = sum(map(_job_seconds,
                             self.by_label.get("<unlabelled>", [])))
        self.total["labelled_job_frac"] = (
            1.0 - unlabelled / self.total["job_s"] if self.total["job_s"]
            else 1.0)

    def summary(self, jobs: List[dict]) -> Dict[str, float]:
        stages = [st for j in jobs for sid in j.get("stageIds", [])
                  for st in self._stages.get(sid, [])
                  if st.get("status") != "SKIPPED"]
        row = _layer_sums(stages)
        row["jobs"] = len(jobs)
        row["job_s"] = sum(map(_job_seconds, jobs))
        return row

    def labels(self) -> Dict[str, Dict[str, float]]:
        return {lab: self.summary(js) for lab, js in self.by_label.items()}


def _job_seconds(j: dict) -> float:
    return _epoch(j["completionTime"]) - _epoch(j["submissionTime"])
