"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload wide_crawl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted`` and ``failed`` (crawls run and
crawls whose outputs did not match the sequential oracle or that raised)
and ``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` reports the per-layer metrics and writes the
spans and the per-layer table to ``perfbench-results/``.

Everything the run writes stays under the checkout (``.perfbench-work/``,
removed at exit, and ``perfbench-results/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"  # the package default (48g) does not fit a 15 GB box


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    for need in ("webcrawl_lowres_lang_spark/streaming/crawler.py", "tests/reference_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing; run from a checkout of the crawl engine",
                  file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # size Spark for this machine before the package reads its defaults
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    try:
        w = workloads.workload(args.workload, args.seed)
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    try:
        if args.trace:
            result = traced(w, work)
        else:
            result = untraced(w, args.seconds, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result))
    return 0


def _report(runs, metrics: dict, oracle_s: float) -> dict:
    failed = sum(1 for r in runs if r.problems)
    for r in runs:
        print(f"perfbench: crawl rows={r.rows} crawl_s={r.crawl_s:.2f} rounds_s="
              f"{[round(x, 2) for x in r.rounds_s]} resume_s={r.resume_s:.2f} "
              f"phases_s={ {k: round(v, 2) for k, v in r.phases.items()} }", file=sys.stderr)
        for p in r.problems:
            print(f"perfbench: crawl failed: {p}", file=sys.stderr)
    # the single-process baseline, beside the result (not a metric)
    print(json.dumps({"oracle_s": round(oracle_s, 4)}), file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(runs), "failed": failed, "metrics": metrics}


def untraced(w, seconds: float, work: str) -> dict:
    """Set up once, then run the workload's plan until ``seconds`` have
    passed (at least once)."""
    from perfbench import crawl, oracle_check

    exp = oracle_check.expected(w.config)
    with crawl.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = crawl.start_session(work)
        session_s = time.perf_counter() - t0
        try:
            fixtures_s = crawl.set_up_fixtures(spark, w, os.path.join(work, "setup"))
            print(f"perfbench: session_s={session_s:.2f} fixtures_s={fixtures_s:.2f}", file=sys.stderr)
            runs = []
            deadline = time.perf_counter() + seconds
            while not runs or time.perf_counter() < deadline:
                runs.append(crawl.guarded(crawl.crawl_plan, spark, w, os.path.join(work, "crawl"), exp))
        finally:
            crawl.stop_session(spark)
    ok = [r for r in runs if not r.problems]
    metrics = {}
    if ok:
        metrics = {
            "crawl_urls_per_s": sum(r.rows for r in ok) / sum(r.crawl_s for r in ok),
            "round_p50_s": statistics.median([x for r in ok for x in r.rounds_s]),
            "resume_s": statistics.median([r.resume_s for r in ok]),
            "setup_s": session_s + fixtures_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
    units = {"crawl_urls_per_s": "1/s", "round_p50_s": "s", "resume_s": "s",
             "setup_s": "s", "peak_rss_mb": "MB"}
    return _report(runs, {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                   exp.oracle_s)


def traced(w, work: str) -> dict:
    """The plan's crawl untraced, then the whole plan traced, on one set-up.
    The untraced crawl gives the whole-round counts and the engine's phase
    walls; the spans plus the Spark event log give the per-layer table; the
    difference of the two crawls' wall times is the tracing overhead."""
    from perfbench import crawl, layers, oracle_check, trace

    exp = oracle_check.expected(w.config)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = crawl.start_session(work, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = trace.Tracer(run_id=f"{w.name}-seed{w.config.seed}")
    try:
        fixtures_s = crawl.set_up_fixtures(spark, w, os.path.join(work, "setup"))
        plain = crawl.guarded(crawl.crawl_only, spark, w, os.path.join(work, "plain"), exp)
        acc = layers.install(tracer, spark)
        ckpt = os.path.join(work, "traced")
        try:
            traced_run = crawl.guarded(crawl.crawl_plan, spark, w, ckpt, exp)
        finally:
            tracer.uninstall()
        scoring_s = acc["scoring_s"].value
    finally:
        crawl.stop_session(spark)
    runs = [plain, traced_run]
    metrics = {}
    if not plain.problems and not traced_run.problems:
        table = layers.layer_metrics(
            tracer.spans, trace.read_event_log(log_dir), plain, scoring_s,
            fixtures_s, ckpt, traced_run.crawl_s - plain.crawl_s,
        )
        out = os.path.join(ROOT, "perfbench-results", f"{w.name}-seed{w.config.seed}")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, "spans.jsonl"))
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump({k: {"value": v, "unit": u, "base": b} for k, (v, u, b) in table.items()},
                      f, indent=1)
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in table.items()}
    return _report(runs, metrics, exp.oracle_s)


if __name__ == "__main__":
    sys.exit(main())
