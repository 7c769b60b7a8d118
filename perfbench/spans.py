"""Spans around calls into the program, and per-layer counts folded from a
Spark event log.

A :class:`Tracer` records spans (name, start, end, parent) in memory and
tags every Spark job started inside a span with ``setJobDescription(<layer>)``.
After the session stops, :class:`EventLog` reads the uncompressed
event log and groups stages, tasks and SQL plan metrics by that tag.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# Python-boundary SQL metrics (per MapInPandas / ArrowEvalPython node).
PY_RUN = "time to run Python workers"
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
ROWS = "number of output rows"

# Plan nodes that only pass rows through on their way to an exchange.
_PASS = ("WholeStageCodegen", "Project", "Filter", "InputAdapter",
         "ColumnarToRow", "AQEShuffleRead", "ShuffleQueryStage",
         "TableCacheQueryStage", "ResultQueryStage", "Exchange")


class Tracer:
    def __init__(self):
        self.sc = None  # set once a session exists; its jobs get tagged
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Time a call; Spark jobs it starts are tagged with ``name``."""
        if self.sc is not None:
            self.sc.setJobDescription(name)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)
            if self.sc is not None:
                self.sc.setJobDescription(None)

    def dur(self, name: str) -> float:
        span = next(s for s in self.spans if s["name"] == name)
        return span["end"] - span["start"]


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _events(log_dir: str):
    # Spark 4 writes a rolling log: <log_dir>/eventlog_v2_<app>/events_<n>_<app>
    for f in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Stages, tasks and final SQL plans of one application, by layer."""

    def __init__(self, log_dir: str):
        self.stage_layer: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.job_layer: dict[int, str] = {}
        self.job_exec: dict[int, int] = {}
        self.stages: dict[int, dict] = {}  # executed stages only
        self.tasks: dict[int, list[dict]] = {}
        self.plans: dict[int, dict] = {}
        self.acc: dict[int, float] = {}
        for e in _events(log_dir):
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                layer = props.get("spark.job.description") or "untagged"
                self.job_layer[e["Job ID"]] = layer
                if props.get("spark.sql.execution.id") is not None:
                    self.job_exec[e["Job ID"]] = int(props["spark.sql.execution.id"])
                for sid in e["Stage IDs"]:
                    self.stage_layer[sid] = layer
                    self.stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                self.tasks.setdefault(e["Stage ID"], []).append(e)
                for a in e["Task Info"].get("Accumulables", []):
                    self.acc[a["ID"]] = self.acc.get(a["ID"], 0.0) + _num(a.get("Update"))
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                self.plans[e["executionId"]] = e["sparkPlanInfo"]
            elif kind.endswith("DriverAccumUpdates"):
                for aid, v in e.get("accumUpdates", []):
                    self.acc[aid] = self.acc.get(aid, 0.0) + _num(v)

    # -- plans --------------------------------------------------------------

    def executions(self, layer: str) -> list[int]:
        ids = {x for j, x in self.job_exec.items() if self.job_layer.get(j) == layer}
        return sorted(ids)

    def metric(self, node: dict, name: str) -> float:
        return sum(self.acc.get(m["accumulatorId"], 0.0)
                   for m in node["metrics"] if m["name"] == name)

    @staticmethod
    def nodes(plan: dict):
        todo = [plan]
        while todo:
            n = todo.pop()
            yield n
            todo.extend(n["children"])

    def result_rows(self, layer: str) -> float:
        """Rows the layer's SQL executions returned: the output rows of the
        topmost plan node that counts them, summed over executions."""
        total = 0.0
        for x in self.executions(layer):
            top = next((n for n in self.nodes(self.plans[x])
                        if any(m["name"] == ROWS for m in n["metrics"])), None)
            total += self.metric(top, ROWS) if top else 0.0
        return total

    def write_input_node(self, layer: str) -> dict | None:
        """The node whose rows feed a checkpointed write's exchange: below
        the topmost Python node (the writer) and its exchange, skipping
        pass-through nodes (Project, the resume Filter, ...)."""
        for x in self.executions(layer):
            top = next((n for n in self.nodes(self.plans[x])
                        if n["nodeName"] == "MapInPandas"), None)
            if top is None:
                continue
            n = top["children"][0] if top["children"] else None
            while n is not None and (n["nodeName"].startswith(_PASS) or
                                     not any(m["name"] == ROWS for m in n["metrics"])):
                n = n["children"][0] if n["children"] else None
            if n is not None:
                return n
        return None

    def sum_nodes(self, layer: str, pred, name: str, skip_writer: bool = False) -> float:
        total = 0.0
        for x in self.executions(layer):
            nodes = list(self.nodes(self.plans[x]))
            if skip_writer:
                writer = next((n for n in nodes if n["nodeName"] == "MapInPandas"), None)
                nodes = [n for n in nodes if n is not writer]
            total += sum(self.metric(n, name) for n in nodes if pred(n["nodeName"]))
        return total

    # -- stages -------------------------------------------------------------

    def layer_stages(self, layer: str) -> list[int]:
        return sorted(s for s in self.stages if self.stage_layer.get(s) == layer)

    def split_write(self, layer: str) -> tuple[list[int], list[int]]:
        """-> (operator stages, write stages) of a checkpointed write: the
        write stage is the result stage of the layer's last job; every
        earlier stage (the operator's map stages, broadcasts) is the
        operator's."""
        stages = self.layer_stages(layer)
        if not stages:
            return [], []
        last_job = max(self.stage_job[s] for s in stages)
        write = [s for s in stages if self.stage_job[s] == last_job]
        return [s for s in stages if s not in write], write

    def stage_counts(self, stages: list[int]) -> dict:
        cpu = run_py = py_in = py_out = shuf = spill = 0.0
        failed = 0
        for s in stages:
            for t in self.tasks.get(s, []):
                m = t.get("Task Metrics") or {}
                if t["Task End Reason"].get("Reason") != "Success":
                    failed += 1
                cpu += m.get("Executor CPU Time", 0) / 1e9
                shuf += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Disk Bytes Spilled", 0)
                for a in t["Task Info"].get("Accumulables", []):
                    if a.get("Name") == PY_RUN:
                        run_py += _num(a.get("Update")) / 1e3
                    elif a.get("Name") == PY_IN:
                        py_in += _num(a.get("Update"))
                    elif a.get("Name") == PY_OUT:
                        py_out += _num(a.get("Update"))
        return {
            "exec_cpu_s": cpu, "py_run_s": run_py, "py_bytes_in": py_in,
            "py_bytes_out": py_out, "shuffle_write_bytes": shuf,
            "spill_bytes": spill, "task_skew": self.task_skew(stages),
            "failed_tasks": failed,
        }

    def stage_wall(self, stages: list[int]) -> float:
        """Length of the union of the stages' [submit, complete] intervals."""
        iv = sorted((self.stages[s]["Submission Time"], self.stages[s]["Completion Time"])
                    for s in stages if self.stages[s].get("Completion Time"))
        total, end = 0, None
        for a, b in iv:
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total / 1e3

    def task_skew(self, stages: list[int]) -> float:
        """max / median task run time of the layer's longest stage."""
        if not stages:
            return 0.0
        longest = max(stages, key=lambda s: self.stage_wall([s]))
        runs = [max((t.get("Task Metrics") or {}).get("Executor Run Time", 0), 1)
                for t in self.tasks.get(longest, [])]
        return max(runs) / statistics.median(runs) if runs else 0.0


# ---------------------------------------------------------------------------
# Layer table
# ---------------------------------------------------------------------------

GENERIC = ("s", "exec_cpu_s", "py_run_s", "py_bytes_in", "py_bytes_out",
           "shuffle_write_bytes", "spill_bytes", "rows_out", "task_skew",
           "failed_tasks")
# Map-only layers have no exchange, so neither shuffle writes nor spills;
# a checkpointed write's stage writes files, not a shuffle, and returns
# only manifest rows from Python.
MAP_ONLY = tuple(m for m in GENERIC if m not in ("shuffle_write_bytes", "spill_bytes"))
WRITE = tuple(m for m in GENERIC if m not in ("shuffle_write_bytes", "py_bytes_out"))
LAYERS = {
    "sources.geojson": MAP_ONLY,
    "operators.cells": MAP_ONLY,
    "operators.spatial_join.pip": GENERIC + ("candidates", "hit_ratio"),
    "operators.spatial_join.knn": MAP_ONLY,
    "operators.tiling.rollup": GENERIC + ("images_decoded",),
    "plans.checkpoint.pip": WRITE + ("bytes_out", "parts_written", "parts_skipped", "useful_row_ratio"),
    "plans.checkpoint.knn": WRITE + ("bytes_out", "parts_written", "parts_skipped", "useful_row_ratio"),
    "plans.checkpoint.rollup": WRITE + ("bytes_out", "parts_written", "parts_skipped", "useful_row_ratio"),
    "operators.fused.mosaic": GENERIC,
    "operators.dedup.minhash": GENERIC,
    "operators.dedup.clusters": GENERIC,
    "operators.ann.topk": GENERIC,
}
EXTRA = ("session.start_s", "trace.wall_s", "trace.overhead_s")


def metric_names() -> list[str]:
    return list(EXTRA) + [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]


def unit(name: str) -> str:
    m = name.rsplit(".", 1)[-1]
    if m.endswith("_s") or m == "s":
        return "s"
    if "bytes" in m:
        return "bytes"
    if m in ("task_skew", "hit_ratio", "useful_row_ratio"):
        return "ratio"
    return "count"


def print_table(values: dict, file) -> None:
    """Per-layer table: one row per layer, the generic columns, then the
    layer's own counts."""
    short = {"s": "s", "exec_cpu_s": "cpu_s", "py_run_s": "py_s",
             "py_bytes_in": "py_in", "py_bytes_out": "py_out",
             "shuffle_write_bytes": "shuf_w", "spill_bytes": "spill",
             "rows_out": "rows", "task_skew": "skew", "failed_tasks": "fail"}
    head = f"{'layer':<30}" + "".join(f"{short[m]:>10}" for m in GENERIC) + "  other"
    print(head, file=file)
    for layer, ms in LAYERS.items():
        row = f"{layer:<30}"
        for m in GENERIC:
            v = values.get(f"{layer}.{m}")
            row += f"{'-':>10}" if v is None else f"{_fmt(v):>10}"
        other = [f"{m}={_fmt(values[f'{layer}.{m}'])}" for m in ms
                 if m not in GENERIC]
        print(row + "  " + " ".join(other), file=file)
    for k in EXTRA:
        print(f"{k:<30}{_fmt(values.get(k, 0.0)):>10}", file=file)


def _fmt(v: float) -> str:
    if abs(v) >= 1e6:
        return f"{v / 1e6:.2f}M"
    if abs(v) >= 1e4:
        return f"{v / 1e3:.1f}k"
    return f"{v:.3g}" if isinstance(v, float) else str(v)
