"""The benchmark's crawl driver: session and fixture set-up, the workload's
crawl plan (crawl, resume, expire) with per-round clocks, the
oracle check, and the peak-RSS sampler. Closed loop: one crawl at a time
on one ``local[nproc]`` driver.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from webcrawl_lowres_lang_spark.session import get_spark
from webcrawl_lowres_lang_spark.streaming.crawler import CrawlEngine

from . import oracle_check
from .workloads import Workload


def start_session(work_dir: str, extra_conf: dict[str, str] | None = None):
    """A session whose scratch files (shuffle, spill, JVM temp) stay under
    ``work_dir``."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if heap:
        # a fixed-size heap: a growing one makes peak RSS follow GC timing
        java_opts += f" -Xms{heap}"
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        **(extra_conf or {}),
    }
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python worker
    daemon) has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def set_up_fixtures(spark, w: Workload, ckpt_dir: str) -> float:
    """Engine construction plus fixture materialization, from an empty
    cache: Spark's CacheManager matches equal plans, so without the
    ``clearCache`` a second engine with the same config would reuse the
    first one's fixture caches and set up almost for free."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    eng = CrawlEngine(spark, w.config, ckpt_dir)
    for df in (eng.links, eng.pages, eng.outlinks, eng.robots):
        df.count()
    return time.perf_counter() - t0


@dataclass
class CrawlRun:
    rounds_s: list[float] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)  # epoch s
    crawl_s: float = 0.0  # wall time of the engine's run() call
    resume_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)  # phase_walls()
    rows: int = 0
    problems: list[str] = field(default_factory=list)


def _clock_rounds(eng: CrawlEngine, out: CrawlRun) -> None:
    """Record each round's wall time (``run_round`` start to ``_checkpoint``
    end) by shadowing the two methods on this engine instance."""
    run_round, checkpoint = eng.run_round, eng._checkpoint
    started = []

    def timed_round(frontier):
        started.append((time.perf_counter(), time.time()))
        return run_round(frontier)

    def timed_checkpoint(ledger, frontier):
        checkpoint(ledger, frontier)
        t0, wall0 = started.pop()
        out.rounds_s.append(time.perf_counter() - t0)
        out.windows.append((wall0, time.time()))

    eng.run_round = timed_round
    eng._checkpoint = timed_checkpoint


def resume(spark, ckpt_dir: str):
    """(engine, seconds): ``CrawlEngine.resume`` from the latest snapshot
    plus materializing its frontier."""
    t0 = time.perf_counter()
    eng = CrawlEngine.resume(spark, ckpt_dir)
    eng.resumed_frontier().count()
    return eng, time.perf_counter() - t0


def phase_walls(eng: CrawlEngine, end: float) -> dict[str, float]:
    """Wall seconds per engine phase label (``seed``, ``admission``,
    ``fetch+score``, ``ckpt-writes``, ...; the round prefix dropped), from
    the label switches the engine records in ``phase_wall``. Each phase
    runs until the next label, so driver time between jobs counts too. The
    seen set's own labels (``seen:append`` and the rest, set inside
    ``SeenSet.add``) count to the engine phase that called it."""
    marks = getattr(eng, "phase_wall", []) + [("end", end)]
    out: dict[str, float] = {}
    phase = None
    for (label, t0), (_, t1) in zip(marks, marks[1:]):
        if not label.startswith("seen:") or phase is None:
            phase = re.sub(r"^r\d+:", "", label)
        out[phase] = out.get(phase, 0.0) + (t1 - t0)
    return out


def _crawl(spark, w: Workload, ckpt_dir: str, out: CrawlRun) -> CrawlEngine:
    """A fresh engine in ``ckpt_dir`` crawls the configured rounds."""
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    eng = CrawlEngine(spark, w.config, ckpt_dir)
    _clock_rounds(eng, out)
    t0 = time.perf_counter()
    eng.run()
    out.crawl_s = time.perf_counter() - t0
    out.phases = phase_walls(eng, time.monotonic())
    return eng


def _check(eng: CrawlEngine, out: CrawlRun, exp: oracle_check.Expected, rounds: int) -> CrawlRun:
    order, seen = oracle_check.engine_outputs(eng)
    out.rows = len(order)
    out.problems = oracle_check.problems(order, seen, exp, rounds)
    return out


def crawl_plan(spark, w: Workload, ckpt_dir: str, exp: oracle_check.Expected) -> CrawlRun:
    """Run the workload's plan in ``ckpt_dir`` (crawl, resume, expire) and
    check it against the oracle's ``exp`` (outside the clocks)."""
    out = CrawlRun()
    _crawl(spark, w, ckpt_dir, out)
    eng, out.resume_s = resume(spark, ckpt_dir)
    expired = spark.createDataFrame([(h,) for h in sorted(exp.expired)], "url_hash long")
    eng.expire_urls(expired)
    return _check(eng, out, exp, w.config.rounds)


def crawl_only(spark, w: Workload, ckpt_dir: str, exp: oracle_check.Expected) -> CrawlRun:
    """Only the plan's crawl, checked against
    ``oracle_check.before_expiry(exp)``."""
    out = CrawlRun()
    eng = _crawl(spark, w, ckpt_dir, out)
    return _check(eng, out, oracle_check.before_expiry(exp), w.config.rounds)


def guarded(fn, *args, **kwargs) -> CrawlRun:
    """Run one crawl; an exception is reported and counted as a failed run."""
    try:
        return fn(*args, **kwargs)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return CrawlRun(problems=["raised: " + traceback.format_exc(limit=1).strip()])


class PeakRss:
    """Samples the memory of this process's whole tree (driver, JVM, Python
    worker daemon and workers) from /proc and keeps the peak of the sum.
    Each process counts its proportional set size: forked workers share the
    daemon's pages, and summing plain RSS would count those once per fork."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)


def tree_pss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass  # the process ended between the listing and the read
    return total
