"""spark-submit entry point for the crawl engine (north rule: "runs via
spark-submit --py-files on multi-executor clusters").

Local:
    python -m webcrawl_lowres_lang_spark.streaming.run_crawl \
        --checkpoint /tmp/crawl_ck --rounds 3 --n-urls 30000

Cluster (the registry also ships the package via addPyFile, so --py-files
is belt-and-braces):
    spark-submit --py-files webcrawl_lowres_lang_spark.zip \
        -m ... run_crawl.py --master yarn --checkpoint s3://bucket/ck ...

Emits one JSON line per round (the engine's per-partition lineage +
frontier/fetch metrics) and a final summary line
``{"summary": {urls_fetched, urls_seen, rounds, secs, urls_per_sec}}``.
``--resume`` continues from the newest round checkpoint in --checkpoint
(snapshot resumability, north rule) instead of starting fresh; its summary
also carries ``filter_restore`` (``"snapshot"`` when the committed seen
filter was loaded, ``"rebuild: <reason>"`` when it was rebuilt).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys
import time

from ..session import DEFAULT_CPUS, get_spark
from .crawler import CrawlConfig, CrawlEngine


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="run_crawl", description="Run the PySpark crawl engine."
    )
    ap.add_argument("--checkpoint", required=True, help="checkpoint/state directory")
    ap.add_argument("--master", default=f"local[{DEFAULT_CPUS}]")
    ap.add_argument("--resume", action="store_true",
                    help="continue from the newest round checkpoint")
    ap.add_argument("--extra-rounds", type=int, default=None,
                    help="with --resume: how many more rounds to run "
                         "(default: the configured total minus completed)")
    # every CrawlConfig field becomes a flag (single source of truth)
    for f in dataclasses.fields(CrawlConfig):
        flag = "--" + f.name.replace("_", "-")
        if f.type == "bool" or isinstance(f.default, bool):
            ap.add_argument(flag, type=lambda v: v.lower() in ("1", "true", "yes"),
                            default=f.default, metavar="BOOL")
        else:
            ap.add_argument(flag, type=type(f.default), default=f.default)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = CrawlConfig(**{
        f.name: getattr(args, f.name) for f in dataclasses.fields(CrawlConfig)
    })
    spark = get_spark(app_name="run-crawl", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    # ship the package to python workers (the in-repo equivalent of
    # --py-files; harmless when spark-submit already provided it)
    from ..plans.registry import ensure_executors_can_import

    ensure_executors_can_import(spark)
    t0 = time.perf_counter()
    if args.resume:
        eng = CrawlEngine.resume(spark, args.checkpoint)
        todo = (
            args.extra_rounds
            if args.extra_rounds is not None
            else max(0, eng.cfg.rounds - eng.round)
        )
        eng.run(frontier=eng.resumed_frontier(), rounds=todo)
    else:
        eng = CrawlEngine(spark, cfg, args.checkpoint)
        eng.run()
    for m in eng.metrics:
        print(json.dumps(m))
    secs = time.perf_counter() - t0
    fetched = eng.ledger_df().count()
    summary = {
        "urls_fetched": int(fetched),
        "urls_seen": int(eng.seen.count()),
        "rounds": int(eng.round),
        "secs": round(secs, 2),
        "urls_per_sec": round(fetched / secs, 2) if secs else None,
        "checkpoint": args.checkpoint,
    }
    if args.resume:
        summary["filter_restore"] = eng.filter_restore
    print(json.dumps({"summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
