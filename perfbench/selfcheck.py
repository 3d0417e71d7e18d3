"""Self-check of the benchmark on a tiny corpus.

    python3 perfbench/selfcheck.py

Confirms that
1. the event-log parser attributes a hand-built fragment correctly;
2. an untraced and a traced run emit every metric named in BENCHMARK.json,
   each with its unit, and the traced run leaves no job unattributed;
3. tampering with one output row trips the output check.
Exits 0 when all hold.  Starts three short Spark sessions (a few minutes).
"""

from __future__ import annotations

import dataclasses
import json
import subprocess
import sys
import tempfile
from argparse import Namespace
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SEED = 424242


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields}, separators=(",", ":"))


def _task(stage: int, launch: int, finish: int, cpu_ns: int, py_sent: int = 0) -> str:
    accs = [{"ID": 1, "Name": "data sent to Python workers", "Update": str(py_sent)}]
    return _event(
        "SparkListenerTaskEnd", **{"Stage ID": stage, "Task Info": {
            "Launch Time": launch, "Finish Time": finish, "Accumulables": accs},
            "Task Metrics": {
                "Executor Run Time": finish - launch, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 5, "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024}}})


def check_parser() -> list[str]:
    from perfbench import layers

    t0 = 1_000_000.0  # epoch seconds; events below are in epoch ms
    ms = int(t0 * 1000)
    lines = [
        _event("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": ms + 100, "Stage IDs": [0],
            "Properties": {"spark.jobGroup.id": "operators.toc"}}),
        _task(0, ms + 110, ms + 300, 150_000_000, py_sent=4096),
        _task(0, ms + 110, ms + 200, 50_000_000, py_sent=4096),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": ms + 400}),
        # a plan-carrying SQL event the reader must skip
        _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               physicalPlanDescription="x" * 10_000),
        _event("SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": ms + 500, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "write.spans_out"}}),
        _task(1, ms + 510, ms + 900, 300_000_000),
        _task(1, ms + 510, ms + 610, 100_000_000),
        _task(1, ms + 510, ms + 620, 100_000_000),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": ms + 950}),
        _event("SparkListenerJobStart", **{
            "Job ID": 2, "Submission Time": ms + 960, "Stage IDs": [2],
            "Properties": {}}),
        _event("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": ms + 980}),
    ]
    spans = [
        {"name": "pipeline", "start": t0, "end": t0 + 0.45, "parent": None},
        {"name": "operators.toc", "start": t0 + 0.05, "end": t0 + 0.42, "parent": 0},
        {"name": "write.spans_out", "start": t0 + 0.45, "end": t0 + 0.95, "parent": None},
    ]
    with tempfile.TemporaryDirectory(dir=ROOT) as d:
        (Path(d) / "app").mkdir()
        (Path(d) / "app" / "events_1_app").write_text("\n".join(lines) + "\n")
        jobs = layers.jobs_from_events(layers.read_event_log(Path(d)))
    got = layers.layer_metrics(spans, jobs, t0, t0 + 1.0, cores=2)
    want = {
        "operators.toc.jobs": 1, "operators.toc.tasks": 2,
        "operators.toc.cpu_s": 0.2, "operators.toc.gc_s": 0.01,
        "operators.toc.py_bytes_sent": 8192, "python.bytes_sent": 8192,
        "operators.toc.wall_s": 0.37, "operators.toc.shuffle_write_mib": 2,
        "operators.pages.reassembly.jobs": 1,
        "operators.pages.reassembly.tasks": 3,
        "operators.pages.reassembly.wall_s": 0.5,
        "operators.pages.reassembly.max_task_s": 0.39,
        "operators.pages.reassembly.task_skew": 390 / 110,
        "pipeline.wall_s": 0.08, "pipeline.jobs": 3, "pipeline.stages": 2,
        "pipeline.tasks": 5, "trace.unattributed_jobs": 1,
        "pipeline.core_util": (190 + 90 + 390 + 100 + 110) / 1000 / 2,
    }
    return [f"parser: {k} = {got.get(k)}, want {v}"
            for k, v in want.items() if abs(got.get(k, -1) - v) > 1e-6]


def tamper(run_pass):
    """The same pass, with the text of one sampled ``spans_out`` row changed."""
    from pyspark.sql import functions as F

    def tampered(docs_df):
        tables, release = run_pass(docs_df)
        out = tables["spans_out"]
        first = (F.col("doc_id") == "doc-s%d-0000000-f00" % SEED) & (F.col("order") == 1)
        tables["spans_out"] = out.withColumn(
            "text", F.when(first, F.lit("tampered")).otherwise(F.col("text")))
        return tables, release

    return tampered


def run_phase(phase: str) -> dict:
    """One tiny run in this process: ``e2e`` and ``trace`` run the tiny
    workload untraced and traced, ``tamper`` with one row changed.  (A
    process holds one gateway JVM: module-level pandas UDFs keep the
    first JVM's handles, so every run gets its own process.)"""
    from perfbench.run import run
    from perfbench.workloads import WORKLOADS

    wl = dataclasses.replace(WORKLOADS["batch_e2e"], name="selfcheck", n_docs=26)
    if phase == "tamper":
        wl = dataclasses.replace(wl, run_pass=tamper(wl.run_pass))
    args = Namespace(workload=wl.name, seed=SEED, seconds=1,
                     trace=int(phase == "trace"))
    result, problems, _ = run(args, wl)
    return {"result": result, "problems": problems}


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--phase":
        print(json.dumps(run_phase(sys.argv[2])))
        return 0

    def phase(name: str) -> dict:
        out = subprocess.run([sys.executable, __file__, "--phase", name],
                             capture_output=True, text=True, check=True)
        return json.loads(out.stdout.strip().splitlines()[-1])

    problems = check_parser()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for name, key in (("e2e", "end_to_end"), ("trace", "per_layer")):
        got = phase(name)
        problems += [f"{name}: {b}" for b in got["problems"]]
        metrics = got["result"]["metrics"]
        if not got["result"]["correct"]:
            problems.append(f"{name}: run not correct")
        for m in spec[key]:
            if metrics.get(m["name"], {}).get("unit") != m["unit"]:
                problems.append(f"{name}: {m['name']} missing or not in {m['unit']}")
        if name == "trace" and metrics["trace.unattributed_jobs"]["value"]:
            problems.append("trace: unattributed jobs")

    got = phase("tamper")
    if got["result"]["correct"] or not got["result"]["failed"] \
            or len(got["problems"]) < 2:
        problems.append(f"tampered row not caught by both checks: {got['problems']}")

    for p in problems:
        print(f"selfcheck: FAIL {p}")
    print("selfcheck: ok" if not problems else "selfcheck: failed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
