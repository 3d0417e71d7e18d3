"""Traced runs: layer spans from wrappers around the package's public
layer functions, and the per-layer split read back from Spark's event log.

Each wrapper records a span (name, start, end, parent) and sets the Spark
job group to its layer.  When a wrapped call returns to ``run_pipeline``
the group stays set, so the eager ``count()`` that ``run_pipeline`` makes
after the call lands in that call's layer; when it returns to another
layer's call, the caller's group comes back.  The benchmark's sink sets
the group ``write.<table>``; the lazy work a sink forces belongs to the
layer that built the table (``SINK_LAYER``).
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

#: (module, public function, layer) wrapped in a traced run
LAYER_FUNCS = (
    ("pdf_parser_spark.pipeline", "run_pipeline", "pipeline"),
    ("pdf_parser_spark.operators.pages", "explode_spans_raw", "operators.pages.explode"),
    ("pdf_parser_spark.operators.pages", "explode_spans", "operators.pages.explode"),
    ("pdf_parser_spark.operators.pages", "quarantine_df", "operators.pages.explode"),
    ("pdf_parser_spark.operators.pages", "valid_spans", "operators.pages.explode"),
    ("pdf_parser_spark.operators.pages", "span_sequence_skew_df", "operators.pages.reassembly"),
    ("pdf_parser_spark.operators.pages", "pages_df", "operators.pages.pages"),
    ("pdf_parser_spark.functions.boilerplate", "normalize_html_flat", "functions.boilerplate"),
    ("pdf_parser_spark.operators.metadata", "metadata_df", "operators.metadata"),
    ("pdf_parser_spark.operators.toc", "toc_entries_df", "operators.toc"),
    ("pdf_parser_spark.operators.sections", "sections_df", "operators.sections"),
    ("pdf_parser_spark.operators.metrics", "metrics_df", "operators.metrics"),
)

#: table → the layer whose lazy plan its sink forces
SINK_LAYER = {
    "quarantine": "operators.pages.explode",
    "spans_out": "operators.pages.reassembly",
    "pages": "operators.pages.pages",
    "metadata": "operators.metadata",
    "toc": "operators.toc",
    "sections": "operators.sections",
    "metrics": "operators.metrics",
}

#: layers with Spark jobs, each reported with GENERIC metrics
JOB_LAYERS = (
    "operators.pages.explode",
    "operators.pages.reassembly",
    "operators.pages.pages",
    "functions.boilerplate",
    "operators.metadata",
    "operators.toc",
    "operators.sections",
    "operators.metrics",
)
GENERIC = (
    ("wall_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mib", "MiB"), ("spill_mib", "MiB"),
    ("jobs", "count"), ("tasks", "count"),
)
#: the Arrow stages, each with its own Python-worker boundary figures
ARROW_LAYERS = ("functions.boilerplate", "operators.toc", "operators.sections")
PY_ACCUMS = {
    "data sent to Python workers": ("bytes_sent", "B", 1.0),
    "data returned from Python workers": ("bytes_returned", "B", 1.0),
    "time to start Python workers": ("start_s", "s", 1e-3),
    "time to initialize Python workers": ("init_s", "s", 1e-3),
    "time to run Python workers": ("run_s", "s", 1e-3),
}
MIB = 1024 * 1024


def layer_of_group(group: str | None) -> str | None:
    if group is None:
        return None
    if group.startswith("write."):
        return SINK_LAYER.get(group[len("write."):])
    if group in JOB_LAYERS or group == "pipeline":
        return group
    return None


def per_layer_units() -> dict:
    """Every per-layer metric name a traced run emits, with its unit."""
    units = {"session.wall_s": "s"}
    for layer in JOB_LAYERS:
        for name, unit in GENERIC:
            units[f"{layer}.{name}"] = unit
    for layer in ARROW_LAYERS:
        for short in ("bytes_sent", "bytes_returned", "init_s", "run_s"):
            units[f"{layer}.py_{short}"] = "B" if short.startswith("bytes") else "s"
    for short, unit, _ in PY_ACCUMS.values():
        units[f"python.{short}"] = unit
    units.update({
        "pipeline.wall_s": "s", "pipeline.jobs": "count",
        "pipeline.stages": "count", "pipeline.tasks": "count",
        "pipeline.core_util": "ratio",
        "operators.toc.lines_to_python": "count",
        "operators.toc.useful_ratio": "ratio",
        "operators.pages.reassembly.max_task_s": "s",
        "operators.pages.reassembly.task_skew": "ratio",
        "operators.pages.reassembly.mega_docs": "count",
        "trace.wall_s": "s", "trace.unattributed_jobs": "count",
        "trace.eventlog_mib": "MiB",
    })
    return units


class Tracer:
    """Layer spans in memory; ``install`` wraps LAYER_FUNCS in place and
    ``uninstall`` puts the originals back."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._originals: list[tuple] = []

    def install(self) -> None:
        for mod_name, attr, layer in LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._originals.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, layer))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._originals):
            setattr(mod, attr, fn)
        self._originals.clear()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent})
        self._stack.append(idx)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.time()
            self._stack.pop()
            if parent is not None and self.spans[parent]["name"] != "pipeline":
                self.sc.setJobGroup(self.spans[parent]["name"],
                                    self.spans[parent]["name"])


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_WANTED = (
    b'{"Event":"SparkListenerJobStart"',
    b'{"Event":"SparkListenerJobEnd"',
    b'{"Event":"SparkListenerTaskEnd"',
)


def read_event_log(log_dir: Path) -> list[dict]:
    """The job and task events of every event-log file under ``log_dir``
    (single file or rolled ``events_<n>_*`` parts, in order).  Plan-carrying
    SQL events can be hundreds of MiB; they are skipped unparsed."""
    def order(p: Path):
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if p.name.startswith("events_") else 0)

    files = sorted((p for p in log_dir.rglob("*") if p.is_file()
                    and not p.name.startswith(".")
                    and not p.name.startswith("appstatus")), key=order)
    events = []
    for path in files:
        with path.open("rb") as fh:
            for line in fh:
                if line.startswith(_WANTED):
                    events.append(json.loads(line))
    return events


def jobs_from_events(events: list[dict]) -> dict:
    """job id → {group, start_ms, end_ms, stages: set, tasks: [task dict]}"""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start_ms": e["Submission Time"], "end_ms": None,
                "stages": set(), "tasks": [],
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            py = {}
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PY_ACCUMS:
                    py[acc["Name"]] = py.get(acc["Name"], 0.0) + float(acc["Update"])
            job["stages"].add(e["Stage ID"])
            job["tasks"].append({
                "stage": e["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "py": py,
            })
    return jobs


def wall_by_layer(spans: list[dict], jobs: dict, t0: float, t1: float) -> dict:
    """Self time per layer over [t0, t1] (seconds, 1 ms grain).  Each
    millisecond belongs to a running job's layer if a job runs, else to the
    innermost open span's layer, else to the benchmark itself."""
    base = int(t0 * 1000)
    owner: list[str | None] = [None] * (int(t1 * 1000) - base + 1)

    def paint(start_ms: int, end_ms: int, layer: str | None) -> None:
        for i in range(max(0, start_ms - base), min(len(owner), end_ms - base)):
            owner[i] = layer

    def depth(i: int) -> int:
        d = 0
        while spans[i]["parent"] is not None:
            i, d = spans[i]["parent"], d + 1
        return d

    for i in sorted(range(len(spans)), key=depth):
        s = spans[i]
        name = s["name"]
        layer = SINK_LAYER.get(name[6:]) if name.startswith("write.") else name
        paint(int(s["start"] * 1000), int(s["end"] * 1000), layer)
    for job in jobs.values():
        if job["end_ms"] is not None:
            paint(job["start_ms"], job["end_ms"], layer_of_group(job["group"]))
    out: dict[str, float] = {}
    for layer in owner:
        key = layer or "bench"
        out[key] = out.get(key, 0.0) + 0.001
    return out


def layer_metrics(spans: list[dict], jobs: dict, t0: float, t1: float,
                  cores: int) -> dict:
    """The per-layer block for one traced pass over [t0, t1] (epoch s)."""
    in_pass = {j: job for j, job in jobs.items()
               if t0 * 1000 <= job["start_ms"] <= t1 * 1000}
    by_layer: dict[str, list[dict]] = {}
    unattributed = 0
    for job in in_pass.values():
        layer = layer_of_group(job["group"])
        if layer is None:
            unattributed += 1
            continue
        by_layer.setdefault(layer, []).append(job)

    walls = wall_by_layer(spans, in_pass, t0, t1)
    out: dict[str, float] = {}
    for layer in JOB_LAYERS:
        tasks = [t for job in by_layer.get(layer, []) for t in job["tasks"]]
        out[f"{layer}.wall_s"] = walls.get(layer, 0.0)
        out[f"{layer}.cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
        out[f"{layer}.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1e3
        out[f"{layer}.shuffle_write_mib"] = sum(t["shuffle_write"] for t in tasks) / MIB
        out[f"{layer}.spill_mib"] = sum(t["spill"] for t in tasks) / MIB
        out[f"{layer}.jobs"] = len(by_layer.get(layer, []))
        out[f"{layer}.tasks"] = len(tasks)
        if layer in ARROW_LAYERS:
            for acc, (short, _, scale) in PY_ACCUMS.items():
                if short == "start_s":
                    continue
                out[f"{layer}.py_{short}"] = scale * sum(
                    t["py"].get(acc, 0.0) for t in tasks)

    all_tasks = [t for job in in_pass.values() for t in job["tasks"]]
    for acc, (short, _, scale) in PY_ACCUMS.items():
        out[f"python.{short}"] = scale * sum(t["py"].get(acc, 0.0) for t in all_tasks)

    reassembly = [t for job in by_layer.get("operators.pages.reassembly", [])
                  for t in job["tasks"]]
    stages: dict[int, list[int]] = {}
    for t in reassembly:
        stages.setdefault(t["stage"], []).append(t["dur_ms"])
    if stages:
        slowest = max(stages.values(), key=max)
        out["operators.pages.reassembly.max_task_s"] = max(slowest) / 1e3
        out["operators.pages.reassembly.task_skew"] = (
            max(slowest) / max(1.0, statistics.median(slowest)))
    else:
        out["operators.pages.reassembly.max_task_s"] = 0.0
        out["operators.pages.reassembly.task_skew"] = 0.0

    wall = t1 - t0
    out["pipeline.wall_s"] = walls.get("pipeline", 0.0)
    out["pipeline.jobs"] = len(in_pass)
    out["pipeline.stages"] = sum(len(j["stages"]) for j in in_pass.values())
    out["pipeline.tasks"] = len(all_tasks)
    out["pipeline.core_util"] = (
        sum(t["run_ms"] for t in all_tasks) / 1e3 / (wall * cores))
    out["trace.wall_s"] = wall
    out["trace.unattributed_jobs"] = unattributed
    return out
