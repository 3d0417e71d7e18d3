"""Extraction benchmark.

    python3 perfbench/run.py --workload batch_e2e --seed 1 --seconds 10 --trace 0

Builds the workload's corpus from ``--seed``, starts a session sized from
the box, runs timed passes of the shipped entry points until ``--seconds``
have passed (at least one pass; a traced run makes exactly one), checks
every pass's outputs outside the timed region, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
split of one traced pass with ``--trace 1``.  The line before it records
the settings that ran.  Exit code 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MIB = 1024 * 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def force(df, name: str, tracer) -> None:
    """The sink: Spark's built-in ``noop`` format runs the whole plan
    (``count()`` would let Catalyst prune the W2 windows)."""
    with tracer.span(f"write.{name}") if tracer else nullcontext():
        df.write.format("noop").mode("overwrite").save()


def run(args, wl) -> tuple[dict, list[str], dict]:
    """Runs workload ``wl``; returns (result line, problems, settings)."""
    from pdf_parser_spark import pipeline
    from pdf_parser_spark.config import DEFAULT_CONFIG
    from pdf_parser_spark.operators import toc as toc_op
    from perfbench import box, check, layers
    from perfbench.workloads import sample_ids, write_corpus

    settings = box.box_settings()
    work = ROOT / ".perfbench_work" / f"{wl.name}-s{args.seed}-{time.time_ns()}"
    digest_store = ROOT / ".perfbench_work" / "digests"
    log_dir = work / "eventlog"
    conf = {}
    if args.trace:
        log_dir.mkdir(parents=True)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false"}

    problems: list[str] = []
    passes: list[dict] = []
    attempted = failed = 0
    tracer = None
    traced: dict = {}
    try:
        with box.RssPeak() as rss:
            t = time.perf_counter()
            spark = box.start_session(settings, work, conf)
            session_s = time.perf_counter() - t
            try:
                # set-up: build the corpus from the seed, then three times
                # write it and open it
                t = time.perf_counter()
                docs = wl.corpus(args.seed)
                build_s = time.perf_counter() - t
                prep = []
                for _ in range(3):
                    t = time.perf_counter()
                    write_corpus(docs, work / "input")
                    docs_df = pipeline.read_documents(spark, str(work / "input"))
                    prep.append(time.perf_counter() - t)
                by_id = {d["doc_id"]: d for d in docs}
                ids = sample_ids(docs)
                if args.trace:
                    tracer = layers.Tracer(spark.sparkContext)
                    tracer.install()

                first_digests = None
                check_s: list[float] = []
                measure_t0 = time.perf_counter()
                while True:
                    attempted += 1
                    cpu0, ep0, w0 = box.tree_cpu_s(), time.time(), time.perf_counter()
                    wall = 0.0
                    try:
                        tables, release = wl.run_pass(docs_df)
                        observed, obs = check.observe(
                            tables, by_id, ids, wl.normalize_html, f"pass{attempted}")
                        for name, df in observed.items():
                            force(df, name, tracer)
                        wall = time.perf_counter() - w0
                        cpu = box.tree_cpu_s() - cpu0
                        ep1 = time.time()
                        # --- outside the timed region ---
                        got, doc_sums = check.results(obs, ids)
                        bad = check.oracle_mismatches(doc_sums, by_id, wl.normalize_html)
                        if first_digests is None:
                            first_digests = got
                            bad += check.digest_mismatches(
                                digest_store, wl.key(args.seed), got)
                        elif got != first_digests:
                            bad.append(f"digests differ between passes: "
                                       f"{got} != {first_digests}")
                        if tracer and "toc" in tables:
                            lines = toc_op.toc_candidate_lines(
                                tables["pages"], DEFAULT_CONFIG).count()
                            traced["operators.toc.lines_to_python"] = lines
                            traced["operators.toc.useful_ratio"] = (
                                got["toc"][0] / lines if lines else 0.0)
                        release()
                    except Exception:  # a failed pass is counted, not fatal
                        bad = [traceback.format_exc()]
                    check_s.append(time.perf_counter() - w0 - wall)
                    if bad:
                        failed += 1
                        problems += bad
                    else:
                        passes.append({"wall": wall, "cpu": cpu,
                                       "t0": ep0, "t1": ep1})
                    if args.trace or time.perf_counter() - measure_t0 >= args.seconds:
                        break
            finally:
                if tracer:
                    tracer.uninstall()
                box.stop_session(spark)
        setup_s = session_s + build_s + statistics.median(prep)
        settings.update({"workload": wl.name, "seed": args.seed,
                         "docs": wl.total_docs, "passes": len(passes),
                         "session_s": session_s, "build_s": build_s,
                         "prep_s": prep, "check_s": check_s})

        if args.trace:
            if passes:
                jobs = layers.jobs_from_events(layers.read_event_log(log_dir))
                traced.update(layers.layer_metrics(
                    tracer.spans, jobs, passes[0]["t0"], passes[0]["t1"],
                    settings["cores"]))
            traced["session.wall_s"] = session_s
            traced["operators.pages.reassembly.mega_docs"] = sum(
                len(d["spans"]) > DEFAULT_CONFIG.mega_doc_span_threshold
                for d in docs)
            traced["trace.eventlog_mib"] = sum(
                p.stat().st_size for p in log_dir.rglob("*") if p.is_file()) / MIB
            units = layers.per_layer_units()
            metrics = {name: {"value": float(traced.get(name, 0.0)), "unit": unit}
                       for name, unit in units.items()}
        elif passes:
            n = wl.total_docs
            metrics = {
                "docs_per_s": {"value": statistics.median(
                    n / p["wall"] for p in passes), "unit": "docs/s"},
                "core_s_per_kdoc": {"value": statistics.median(
                    p["cpu"] / n * 1000 for p in passes), "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mib": {"value": rss.peak / MIB, "unit": "MiB"},
            }
        else:
            metrics = {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = {"correct": not problems and bool(passes), "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, problems, settings


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import pdf_parser_spark.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result, problems, settings = run(args, WORKLOADS[args.workload])
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"settings": settings}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
