"""Layer spans for the traced benchmark run.

``Tracer.install()`` replaces the package's public layer functions, in
the modules that call them, with shims. A shim records a span (name,
layer, pass, start, end, parent) and sets the Spark job group to
``<pass>:<layer>`` so that every job the layer launches can be found in
the Spark event log afterwards. Spans stay in memory; ``dump`` writes
them as one JSON file.

The shims work in one of three modes:

- ``off``: call straight through (timed reps run this way);
- ``lazy``: time the call only; on lazy DataFrame calls the span is the
  driver's plan-build time (``build_s``);
- ``staged``: also persist and count the layer's output inside the span,
  so each layer runs on already materialized inputs and its span is the
  layer's own execution time (``wall_s``, ``rows_out``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame

PKG = "quant_feature_pipeline_spark"

# (module, attribute, layer, materialize in staged mode). A layer may be a
# function of the call's kwargs. Functions imported by name are patched in
# every module that calls them.
SHIMS = [
    ("session", "get_spark", "session", False),
    ("sources", "synth_token_table", "sources", False),
    ("sources", "bars_from_tokens", "sources", False),
    ("sources", "bars_from_events", "sources", False),
    ("plans.pipeline", "run_pipeline", "plans", False),
    ("jobs", "run_pipeline", "plans", False),
    # train mode runs the global-stats jobs inside the call; serve mode
    # (stats=...) is pure plan build
    ("plans.flagship", "run_flagship",
     lambda kw: "stats" if kw.get("return_stats") else "plans", False),
    ("jobs", "build_features", "checkpoint", False),
    ("plans.pipeline", "repartition_by_size", "partition", True),
    ("plans.flagship", "repartition_by_size", "partition", True),
    ("plans.pipeline", "resample_all", "resample", True),
    ("plans.flagship", "resample_all", "resample", True),
    ("plans.pipeline", "apply_window_indicators", "window", True),
    ("plans.pipeline", "compute_recurrence_indicators", "recurrence", True),
    ("plans.pipeline", "merge_timeframes", "asof", True),
    ("plans.flagship", "merge_timeframes", "asof", True),
    ("plans.pipeline", "feature_table", "features", True),
    ("plans.pipeline", "log_return", "features", True),
    ("plans.flagship", "log_return", "features", True),
    ("plans.flagship", "time_encodings_rounded", "features", True),
    ("plans.flagship", "rolling_rank_multi", "rank", True),
    ("plans.checkpoint.Checkpointer", "resume_plan", "checkpoint", False),
    ("plans.checkpoint.Checkpointer", "merge_increment", "checkpoint", True),
    ("plans.checkpoint.Checkpointer", "write", "checkpoint", False),
]


def _resolve(path: str):
    """'plans.checkpoint.Checkpointer' -> the class; 'jobs' -> module."""
    try:
        return importlib.import_module(f"{PKG}.{path}")
    except ModuleNotFoundError:
        mod, _, attr = path.rpartition(".")
        return getattr(importlib.import_module(f"{PKG}.{mod}"), attr)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.mode = "off"
        self.pass_name = "setup"
        self.sc = None  # set once the session exists
        self.tag: str | None = None
        self._stack: list[dict] = []

    # -- spans -------------------------------------------------------------
    def _group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{span['pass']}:{span['layer']}", span["name"])

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span; with tracing off, yield a scratch dict only."""
        if self.mode == "off":
            yield {"rows": 0}
            return
        sp = {
            "id": len(self.spans), "name": name, "layer": layer,
            "pass": self.pass_name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(), "end": None, "rows": 0,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def measured(self):
        """Wraps a rep's timed region; tags its jobs with ``self.tag``
        when one is set, so an untraced rep's plan shape can be read."""
        if self.tag is None or self.sc is None:
            yield
            return
        self.sc.setJobGroup(self.tag, self.tag)
        try:
            yield
        finally:
            self._group(None)

    # -- shims -------------------------------------------------------------
    def _materialize(self, out, sp: dict):
        if isinstance(out, DataFrame):
            out = out.persist()
            sp["rows"] += out.count()
        elif isinstance(out, dict):
            out = {k: self._materialize(v, sp) for k, v in out.items()}
        return out

    def _shim(self, fn, name: str, layer, materialize: bool):
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if self.mode == "off":
                return fn(*args, **kwargs)
            lay = layer(kwargs) if callable(layer) else layer
            with self.span(name, lay) as sp:
                out = fn(*args, **kwargs)
                if self.mode == "staged" and materialize:
                    out = self._materialize(out, sp)
            return out

        return shim

    def install(self) -> None:
        """Patch every SHIMS entry for the rest of the process."""
        for path, attr, layer, materialize in SHIMS:
            owner = _resolve(path)
            fn = getattr(owner, attr)
            setattr(owner, attr, self._shim(fn, f"{path}.{attr}", layer, materialize))

    # -- reading -----------------------------------------------------------
    def self_times(self, pass_name: str) -> dict[str, float]:
        """layer -> summed self time (span minus its direct children)."""
        spans = [s for s in self.spans if s["pass"] == pass_name]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def root_time(self, pass_name: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["pass"] == pass_name and s["parent"] is None
        )

    def rows(self, pass_name: str) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s["pass"] == pass_name:
                out[s["layer"]] += s["rows"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


# -- Spark event log -----------------------------------------------------------
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
EXCHANGES = ("Exchange", "BroadcastExchange")


def _count_exchanges(info: dict) -> int:
    n = 1 if info.get("nodeName") in EXCHANGES else 0
    return n + sum(_count_exchanges(c) for c in info.get("children", []))


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Sum task metrics per job group from the (closed) event log.

    Returns group -> {task_s, offcpu_s, shuffle_mb, spill_mb, tasks,
    failed_tasks, py_in_mb, py_out_mb, jobs, stages, exchanges}.
    ``exchanges`` counts Exchange nodes in the final adaptive plan of
    every SQL execution that ran a job in the group."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id")
                if grp is None:
                    continue
                out[grp]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, grp)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), grp)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
            elif kind == "SparkListenerStageCompleted":
                grp = stage_group.get(ev["Stage Info"]["Stage ID"])
                if grp is not None:
                    out[grp]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"])
                if grp is None:
                    continue
                m = out[grp]
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                m["tasks"] += 1
                m["failed_tasks"] += 1 if info.get("Failed") else 0
                run_s = tm.get("Executor Run Time", 0) / 1e3
                m["task_s"] += run_s
                m["offcpu_s"] += run_s - tm.get("Executor CPU Time", 0) / 1e9
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == PY_SENT:
                        m["py_in_mb"] += float(acc.get("Update", 0)) / 2**20
                    elif acc.get("Name") == PY_RECV:
                        m["py_out_mb"] += float(acc.get("Update", 0)) / 2**20
    for eid, grp in exec_group.items():
        if eid in plans:
            out[grp]["exchanges"] += _count_exchanges(plans[eid])
    return {g: dict(m) for g, m in out.items()}
