"""The traced run's instrumentation and its per-layer table.

``install`` rebinds the crawler's calls into each layer with span-recording
wrappers (see ``trace.Tracer``) and adds the counts each layer's ratios
need. ``layer_metrics`` turns the spans plus the Spark event log into the
per-layer metrics named in BENCHMARK.json, each ratio with its base.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from webcrawl_lowres_lang_spark.operators import seen as seen_mod
from webcrawl_lowres_lang_spark.operators.seen import SeenSet
from webcrawl_lowres_lang_spark.streaming import crawler
from webcrawl_lowres_lang_spark.streaming.crawler import CrawlEngine

from .trace import EventLog, Span, Tracer, attribute_jobs, covered, median, self_times

# crawler-namespace function -> span name (the layer is the prefix)
CRAWLER_CALLS = {
    "with_url_keys": "urls.with_url_keys",
    "with_priority": "politeness.with_priority",
    "robots_filter": "politeness.robots_filter",
    "admit_per_domain": "politeness.admit_per_domain",
    "fetch_and_validate": "fetch.fetch_and_validate",
    "with_global_sequence": "ordering.with_global_sequence",
    "suppress_near_dups": "neardup.suppress_near_dups",
}
TABLE_CALLS = {
    "append_table": "tablestore.append_table",
    "overwrite_table": "tablestore.overwrite_table",
}


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def install(tracer: Tracer, spark) -> dict:
    """Patch the crawl's layer boundaries; returns the executor-side
    counters (Spark accumulators) the table reads afterwards."""
    acc = {"scoring_s": spark.sparkContext.accumulator(0.0)}

    for name, span in CRAWLER_CALLS.items():
        after = _AFTER.get(name)
        tracer.patch(crawler, name, tracer.wrap(crawler.__dict__[name], span, after=after))

    def traced_write(fn, span):
        def write(df, path, *args, **kwargs):
            before = _parquet_files(path)
            with tracer.span(span) as s:
                fn(df, path, *args, **kwargs)
            new = {p: b for p, b in _parquet_files(path).items() if p not in before}
            s.counts.update(files=len(new), bytes=sum(new.values()))

        return write

    for mod in (crawler, seen_mod):
        for name, span in TABLE_CALLS.items():
            if name in mod.__dict__:
                tracer.patch(mod, name, traced_write(mod.__dict__[name], span))
        tracer.patch(mod, "read_table",
                     tracer.wrap(mod.__dict__["read_table"], "tablestore.read_table", materialize=False))

    tracer.patch(SeenSet, "filter_unseen",
                 tracer.wrap(SeenSet.filter_unseen, "seen.filter_unseen", after=_probe_counts))
    for name in ("add", "build_bloom", "expire"):
        tracer.patch(SeenSet, name, tracer.wrap(SeenSet.__dict__[name], f"seen.{name}", materialize=False))
    for name in ("run_round", "_checkpoint"):
        tracer.patch(CrawlEngine, name,
                     tracer.wrap(CrawlEngine.__dict__[name], f"crawler.{name.lstrip('_')}", materialize=False))
    resume = CrawlEngine.__dict__["resume"].__func__
    tracer.patch(CrawlEngine, "resume",
                 classmethod(tracer.wrap(resume, "crawler.resume", materialize=False)))

    relevance_udf = crawler.__dict__["relevance_udf"]
    scoring_s = acc["scoring_s"]

    def timed_relevance_udf(spark_, lex):
        inner = relevance_udf(spark_, lex).func

        @F.pandas_udf(DoubleType())
        def score(captions: pd.Series) -> pd.Series:
            t0 = time.perf_counter()
            out = inner(captions)
            scoring_s.add(time.perf_counter() - t0)
            return out

        return score

    tracer.patch(crawler, "relevance_udf", timed_relevance_udf)
    return acc


# -- counts taken inside the spans' bookkeeping children ------------------------


def _admission_counts(s: Span, args, out) -> None:
    s.counts["frontier_rows"] = args[0].count()


def _fetch_counts(s: Span, args, out) -> None:
    row = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("ok"),
        F.countDistinct(F.when(F.col("status") == 200, F.col("image_id"))).alias("images"),
    ).first()
    s.counts.update(fetched=row["rows"], ok=row["ok"] or 0, images=row["images"])


def _sequence_counts(s: Span, args, out) -> None:
    sizes = [r["n"] for r in out.groupBy(F.spark_partition_id().alias("p")).agg(
        F.count(F.lit(1)).alias("n")).collect()]
    s.counts["partition_rows"] = sizes


def _probe_counts(s: Span, args, out) -> None:
    """Filter positives among the candidates, and how many of them were not
    in the set (false positives), probed against the same live filter the
    span's own probe used."""
    seen_set, candidates = args[0], args[1]
    flt = seen_set._bloom
    keys = np.array([r["url_hash"] for r in candidates.select("url_hash").collect()], dtype=np.int64)
    n_fresh = s.counts["rows"][0]
    positives = int(np.asarray(flt.might_contain(keys)).sum()) if flt is not None and len(keys) else 0
    truly_seen = len(keys) - n_fresh
    s.counts.update(candidates=len(keys), positives=positives,
                    false_positives=max(0, positives - truly_seen), negatives=n_fresh)


_AFTER = {
    "admit_per_domain": _admission_counts,
    "fetch_and_validate": _fetch_counts,
    "with_global_sequence": _sequence_counts,
}


# -- the per-layer table ---------------------------------------------------------


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def phase_buckets(phases: dict[str, float]) -> dict[str, float]:
    """The engine's phase walls (``crawl.phase_walls``) folded into the
    buckets the table reports: the checkpoint's labels (``ckpt-*``) make one
    ``checkpoint`` bucket, ``reload`` and ``unpersist`` one ``reload``."""
    out: dict[str, float] = {}
    for label, secs in phases.items():
        key = "checkpoint" if label.startswith("ckpt-") else PHASES.get(label, label)
        out[key] = out.get(key, 0.0) + secs
    return out


# engine phase labels renamed into metric buckets (crawler.phase_<bucket>_s);
# the other labels are their own bucket
PHASES = {"fetch+score": "fetch_score", "seen-add": "seen_add", "unpersist": "reload"}
PHASE_BUCKETS = ("seed", "admission", "fetch_score", "sequence", "neardup", "discover",
                 "seen_add", "checkpoint", "reload")
# layers whose self times make up a crawl round (trace.explained_share),
# and those among them whose work grows with the URLs (trace.per_url_share)
ROUND_LAYERS = ("urls.", "politeness.", "fetch.", "ordering.", "neardup.", "seen.filter_unseen",
                "seen.add", "tablestore.")
PER_URL_LAYERS = ("urls.with_url_keys", "fetch.fetch_and_validate", "seen.filter_unseen")


def layer_metrics(spans: list[Span], log: EventLog, plain, scoring_s: float,
                  fixtures_s: float, ckpt_dir: str,
                  overhead_s: float) -> dict[str, tuple[float, str, str]]:
    """name -> (value, unit, base). ``plain`` is the untraced crawl
    (``crawl.CrawlRun``): its round windows (epoch seconds, run_round start
    to checkpoint end) and phase walls. Layer times are per round (span
    self times summed over the traced crawl, seed phase included, divided
    by its rounds) unless named otherwise; ratios give their base. Spans
    under the resume and the expiry are left out of the per-round times."""
    attribute_jobs(log.jobs, spans)
    st = self_times(spans)
    by_id = {s.id: s for s in spans}
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    rounds = by_name.get("crawler.run_round", [])
    n_rounds = max(1, len(rounds))
    ckpts = by_name.get("crawler.checkpoint", [])
    windows = plain.windows

    def ancestors(s: Span):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def in_crawl(s: Span) -> bool:
        return not any(a.name in ("crawler.resume", "seen.expire")
                       for a in (s, *ancestors(s)))

    def self_s(name: str) -> float:
        return sum(st[s.id] for s in by_name.get(name, []) if in_crawl(s))

    def per_round(x: float) -> float:
        return x / n_rounds

    def counts(name: str, key: str) -> list:
        return [s.counts[key] for s in by_name.get(name, []) if key in s.counts]

    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)

    def subtree(ids):
        out, todo = set(), list(ids)
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(children.get(i, []))
        return out

    # whole-round counts come from the untraced crawl's rounds: the traced
    # one runs extra checkpoint-and-count jobs
    round_jobs = [j for j in log.jobs if any(a <= j.submit <= b for a, b in windows)]
    round_stages = [sid for j in round_jobs for sid in j.stages]
    gaps = [(b - a) - covered(a, b, [(j.submit, j.end) for j in log.jobs]) for a, b in windows]

    def stages_of(name: str) -> list[int]:
        ids = subtree([s.id for s in by_name.get(name, [])])
        ids -= subtree([s.id for s in by_name.get("trace:bookkeeping", [])])
        return [sid for j in log.jobs if j.span in ids for sid in j.stages]

    def task_skew(name: str) -> float:
        skews = [max(t) / median(t) for sid in stages_of(name)
                 if len(t := log.task_s.get(sid, [])) > 1 and median(t) > 0]
        return max(skews) if skews else 1.0

    frontier_rows = sum(counts("politeness.admit_per_domain", "frontier_rows"))
    admitted_rows = sum(r[0] for r in counts("politeness.admit_per_domain", "rows"))
    fetched = sum(counts("fetch.fetch_and_validate", "fetched"))
    ok = sum(counts("fetch.fetch_and_validate", "ok"))
    images = sum(counts("fetch.fetch_and_validate", "images"))
    part_skews = [max(p) / median(p) for p in counts("ordering.with_global_sequence", "partition_rows")
                  if p and median(p) > 0]
    candidates = sum(counts("seen.filter_unseen", "candidates"))
    positives = sum(counts("seen.filter_unseen", "positives"))
    false_pos = sum(counts("seen.filter_unseen", "false_positives"))
    negatives = sum(counts("seen.filter_unseen", "negatives"))
    writes = [s for s in by_name.get("tablestore.append_table", []) + by_name.get("tablestore.overwrite_table", [])
              if in_crawl(s)]
    # the Bloom path's expiry rebuilds the filter through build_bloom too:
    # only the resume's own rebuild counts as seen.rebuild_s
    rebuilds = [s for s in by_name.get("seen.build_bloom", [])
                if s.parent is not None and by_id[s.parent].name == "crawler.resume"]
    expires = by_name.get("seen.expire", [])
    round_layer_s = sum(st[s.id] for s in spans if s.name.startswith(ROUND_LAYERS) and in_crawl(s))
    per_url_s = sum(self_s(name) for name in PER_URL_LAYERS)
    phases = phase_buckets(plain.phases)
    reps = _parquet_files(os.path.join(ckpt_dir, "neardup_reps"))
    return {
        "crawler.jobs_per_round": (per_round(len(round_jobs)), "count", "per round"),
        "crawler.stages_per_round": (per_round(len(round_stages)), "count", "per round"),
        "crawler.tasks_per_round": (per_round(sum(log.stage_tasks[s] for s in round_stages)), "count", "per round"),
        "crawler.driver_gap_s": (median(gaps), "s", "median over rounds"),
        "crawler.checkpoint_s": (median([c.end - c.start for c in ckpts]), "s", "median over rounds"),
        "urls.canon_s": (per_round(self_s("urls.with_url_keys")), "s", "per round"),
        "urls.rows": (per_round(sum(r[0] for r in counts("urls.with_url_keys", "rows"))), "count", "per round"),
        "fetch.s": (per_round(self_s("fetch.fetch_and_validate")), "s", "per round"),
        "fetch.images_decoded": (per_round(images), "count", "per round"),
        "fetch.decode_per_ok": (_ratio(images, ok), "ratio", f"{ok} status-200 rows"),
        "fetch.ok_ratio": (_ratio(ok, fetched), "ratio", f"{fetched} fetched rows"),
        "scoring.s": (per_round(scoring_s), "s", "per round, executor time in the scoring UDF"),
        "politeness.admit_s": (per_round(self_s("politeness.admit_per_domain")), "s", "per round"),
        "politeness.frontier_rows": (per_round(frontier_rows), "count", "per round"),
        "politeness.admitted_ratio": (_ratio(admitted_rows, frontier_rows), "ratio", f"{frontier_rows} frontier rows"),
        "politeness.task_skew": (task_skew("politeness.admit_per_domain"), "ratio", "max over median task time, worst admission stage"),
        "ordering.s": (per_round(self_s("ordering.with_global_sequence")), "s", "per round"),
        "ordering.partition_skew": (max(part_skews) if part_skews else 1.0, "ratio", "max over median rows per range partition, worst round"),
        "neardup.s": (per_round(self_s("neardup.suppress_near_dups")), "s", "per round"),
        "neardup.reps_rows": (float(sum(pq.ParquetFile(p).metadata.num_rows for p in reps)), "count", "reps table after the crawl"),
        "seen.filter_s": (per_round(self_s("seen.filter_unseen")), "s", "per round"),
        "seen.add_s": (per_round(self_s("seen.add")), "s", "per round"),
        "seen.probe_positive_ratio": (_ratio(positives, candidates), "ratio", f"{candidates} probed keys"),
        "seen.false_positive_ratio": (_ratio(false_pos, negatives), "ratio", f"{negatives} unseen keys"),
        "seen.rebuild_s": (median([s.end - s.start for s in rebuilds]), "s", "build_bloom inside crawler.resume, per resume"),
        "seen.expire_s": (median([s.end - s.start for s in expires]), "s", "expire span duration (Bloom: includes its filter rebuild), per expire"),
        "seen.table_files": (float(len(_parquet_files(os.path.join(ckpt_dir, "url_seen")))), "count", "seen table after the crawl"),
        "tablestore.write_s": (per_round(sum(st[s.id] for s in writes)), "s", "per round"),
        "tablestore.read_s": (per_round(self_s("tablestore.read_table")), "s", "per round, listing and schema only"),
        "tablestore.files_written": (per_round(sum(s.counts.get("files", 0) for s in writes)), "count", "per round"),
        "tablestore.bytes_written": (per_round(sum(s.counts.get("bytes", 0) for s in writes)), "bytes", "per round"),
        "fixtures.s": (fixtures_s, "s", "one set-up, the session's first Python work"),
        "shuffle.write_bytes": (per_round(sum(log.shuffle_write.get(s, 0) for s in round_stages)), "bytes", "per round"),
        "shuffle.read_bytes": (per_round(sum(log.shuffle_read.get(s, 0) for s in round_stages)), "bytes", "per round"),
        "shuffle.spill_bytes": (per_round(sum(log.spill.get(s, 0) for s in round_stages)), "bytes", "per round"),
        "trace.overhead_s": (overhead_s, "s", "traced minus untraced crawl wall time"),
        "trace.explained_share": (_ratio(round_layer_s, plain.crawl_s), "ratio",
                                  f"layer self times of the traced crawl over the untraced crawl's {plain.crawl_s:.1f} s"),
        "trace.per_url_share": (_ratio(per_url_s, plain.crawl_s), "ratio",
                                "canonicalize, fetch+decode+validate+score and seen-probe self times of the "
                                f"traced crawl over the untraced crawl's {plain.crawl_s:.1f} s"),
        **{f"crawler.phase_{b}_s": ((phases.get(b, 0.0) if b == "seed" else per_round(phases.get(b, 0.0))), "s",
                                     "untraced crawl, engine phase labels, driver gaps included, "
                                     + ("per crawl" if b == "seed" else "per round")
                                     + f"; share of the untraced crawl {_ratio(phases.get(b, 0.0), plain.crawl_s):.2f}")
           for b in PHASE_BUCKETS},
    }
