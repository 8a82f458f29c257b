"""Spans around the package's layer entry points, and Spark job attribution.

Everything here wraps the package from the outside: the entry points are
replaced at the module attribute where ``plans.pipeline`` looks each one up
(module-level imports are patched on ``plans.pipeline``; functions that
``run_checkpointed``/``run_pipeline`` import inside the function body are
patched on their home module). No package source changes.

Each span records name, layer, start, end, parent and run id, and is kept in
memory. While a span is open its id is set as the Spark local property
``perfbench.span`` so every job submitted from the driver thread carries the
innermost open span in the event log. Jobs without the property fall back to
the innermost span open at their submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"

# (module, attribute, layer): the entry points of each layer, named by the
# module attribute the pipeline resolves them through.
ENTRY_POINTS = [
    ("identity_matching_spark.plans.pipeline", "normalize_files", "normalize"),
    ("identity_matching_spark.operators.normalize", "with_dense_ids", "normalize"),
    ("identity_matching_spark.plans.pipeline", "validation_gate", "validate"),
    ("identity_matching_spark.plans.pipeline", "candidate_pairs", "blocking"),
    ("identity_matching_spark.operators.compare", "enrich_phonetic", "compare"),
    ("identity_matching_spark.operators.compare", "compare_pairs_fuzzy", "compare"),
    ("identity_matching_spark.plans.pipeline", "compare_pairs", "compare"),
    ("identity_matching_spark.plans.pipeline", "grade_pairs", "grade"),
    ("identity_matching_spark.plans.pipeline", "connected_components", "cluster"),
    ("identity_matching_spark.plans.pipeline", "clusters_with_singletons", "cluster"),
]
SNAPSHOT_METHODS = ("write", "read", "log_lineage", "partition_metrics")
# entry points whose returned DataFrame the span keeps, so that its rows can
# be counted after the timed window
KEEP_RESULT = ("normalize_files", "validation_gate")

LAYERS = (
    "session", "normalize", "validate", "blocking", "compare", "grade",
    "cluster", "pipeline", "snapshots",
)
SHUFFLE_LAYERS = ("blocking", "compare", "cluster", "pipeline", "snapshots")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds
    parent: int | None
    run_id: str
    end: float | None = None
    arg: str | None = None
    children: list = field(default_factory=list)
    result: object = None


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.sc = None  # SparkContext once the session exists
        self._undo: list = []

    # -- spans ---------------------------------------------------------------
    def _set_prop(self) -> None:
        if self.sc is not None:
            top = self.stack[-1].id if self.stack else None
            self.sc.setLocalProperty(SPAN_PROP, None if top is None else str(top))

    def open(self, name: str, layer: str, arg: str | None = None) -> Span:
        parent = self.stack[-1].id if self.stack else None
        s = Span(len(self.spans), name, layer, time.time(), parent, self.run_id, arg=arg)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        self.stack.append(s)
        self._set_prop()
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        assert self.stack and self.stack[-1] is s, "span closed out of order"
        self.stack.pop()
        self._set_prop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, arg: str | None = None):
        s = self.open(name, layer, arg)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrapping ------------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, layer: str, arg_of=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name, layer, arg_of(a) if arg_of else None) as s:
                out = orig(*a, **kw)
                if name in KEEP_RESULT:
                    s.result = out
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            self._wrap(mod, attr, attr, layer)
        from identity_matching_spark.sources.snapshots import SnapshotStore

        for meth in SNAPSHOT_METHODS:
            self._wrap(
                SnapshotStore, meth, f"SnapshotStore.{meth}", "snapshots",
                arg_of=lambda a: str(a[1]) if len(a) > 1 else None,
            )
        self._install_call_sites()

    def _install_call_sites(self) -> None:
        """Name each job by the Python line that submitted it. pyspark names
        the jobs of ``collect``/``toPandas`` itself; ``count`` and the parquet
        and json readers and writers get ``<action> at <file>:<line>`` here,
        for the first frame inside the package (or the benchmark)."""
        import sys

        from pyspark.sql import DataFrame, DataFrameReader, DataFrameWriter

        pkg = os.sep + "identity_matching_spark" + os.sep
        tracer = self

        def call_site() -> str:
            f = sys._getframe(2)
            fallback = None
            while f is not None:
                fn = f.f_code.co_filename
                if pkg in fn:
                    rel = fn.split(pkg, 1)[1]
                    return f"{rel}:{f.f_lineno}"
                if fallback is None and "perfbench" in fn:
                    fallback = f"perfbench/{os.path.basename(fn)}:{f.f_lineno}"
                f = f.f_back
            return fallback or "?"

        def wrap_action(owner, attr):
            orig = getattr(owner, attr)

            @functools.wraps(orig)
            def wrapper(*a, **kw):
                sc = tracer.sc
                if sc is None or sc.getLocalProperty("callSite.short"):
                    return orig(*a, **kw)
                sc.setLocalProperty("callSite.short", f"{attr} at {call_site()}")
                try:
                    return orig(*a, **kw)
                finally:
                    sc.setLocalProperty("callSite.short", None)

            setattr(owner, attr, wrapper)
            tracer._undo.append((owner, attr, orig))

        wrap_action(DataFrame, "count")
        for owner in (DataFrameReader, DataFrameWriter):
            for attr in ("parquet", "json"):
                wrap_action(owner, attr)
        wrap_action(DataFrameWriter, "save")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- queries -------------------------------------------------------------
    def self_time(self, s: Span) -> float:
        covered = sum(self.spans[c].end - self.spans[c].start for c in s.children)
        return (s.end - s.start) - covered

    def descendants(self, root: Span) -> list[Span]:
        out, todo = [], [root.id]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    def innermost_at(self, t: float, among: list[Span]) -> Span | None:
        best = None
        for s in among:
            if s.start <= t <= (s.end or t) and (best is None or s.start >= best.start):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer, "start": s.start,
                    "end": s.end, "parent": s.parent, "run_id": s.run_id, "arg": s.arg,
                }) + "\n")


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float | None
    stages: list
    span: int | None
    call_site: str | None
    task_s: float = 0.0
    tasks: list = field(default_factory=list)  # (stage, run seconds)
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def event_log_conf(directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _scan_metric_ids(plan: dict, input_path: str, out: set) -> None:
    loc = (plan.get("metadata") or {}).get("Location", "")
    if plan.get("nodeName", "").startswith("Scan") and input_path in loc:
        out.update(m["accumulatorId"] for m in plan.get("metrics", []))
    for child in plan.get("children", []):
        _scan_metric_ids(child, input_path, out)


def read_event_log(directory: str, input_path: str):
    """Jobs (with task time, shuffle and spill) and the ids of stages that
    scanned ``input_path``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    scan_ids: set = set()
    stage_accs: dict[int, set] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*"))):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    span = props.get(SPAN_PROP)
                    j = Job(
                        e["Job ID"], e["Submission Time"] / 1000.0, None,
                        [s["Stage ID"] for s in e["Stage Infos"]],
                        int(span) if span not in (None, "") else None,
                        props.get("callSite.short"),
                    )
                    jobs[j.id] = j
                    for s in j.stages:
                        stage_job[s] = j.id
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics") or {}
                    if j is None or not m:
                        continue
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    j.task_s += run_s
                    j.tasks.append((e["Stage ID"], run_s))
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_bytes += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stage_accs.setdefault(info["Stage ID"], set()).update(
                        a["ID"] for a in info.get("Accumulables", [])
                    )
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _scan_metric_ids(e.get("sparkPlanInfo") or {}, input_path, scan_ids)
    input_stages = {s for s, accs in stage_accs.items() if accs & scan_ids}
    return list(jobs.values()), input_stages


def count_fallbacks(stderr_path: str, start: int, end: int) -> int:
    """``Whole-stage codegen disabled`` lines between two byte offsets of
    the captured stderr of the Spark driver."""
    with open(stderr_path, "rb") as fh:
        fh.seek(start)
        chunk = fh.read(max(0, end - start))
    return chunk.count(b"Whole-stage codegen disabled")
