"""The benchmark's own tests: its plan on tiny configs through the oracle
check, the span self-time arithmetic, and failure counting for a
corrupted ledger."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from perfbench import crawl, layers, oracle_check, run, workloads
from perfbench.trace import EventLog, Job, Span, attribute_jobs, covered, self_times


def _span(i, start, end, parent=None, name="s"):
    return Span(i, name, start, end, parent, "r")


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 6), (8, 12), (-5, -1)]) == 7


def test_self_time_subtracts_child_coverage():
    spans = [
        _span(0, 0, 10),
        _span(1, 1, 3, parent=0),
        _span(2, 2, 6, parent=0),  # overlaps its sibling (parallel writes)
        _span(3, 2.5, 3.5, parent=2),
        _span(4, 8, 9, parent=0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(4 - 1)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(1)


def test_jobs_go_to_the_deepest_open_span():
    spans = [_span(0, 0, 10), _span(1, 2, 4, parent=0), _span(2, 3, 3.5, parent=1)]
    jobs = [Job(0, 1, 1.5, []), Job(1, 3.2, 3.3, []), Job(2, 3.8, 5, []), Job(3, 11, 12, [])]
    attribute_jobs(jobs, spans)
    assert [j.span for j in jobs] == [0, 2, 1, None]


def test_expiry_rebuild_is_not_a_resume_rebuild():
    # Bloom expiry calls build_bloom itself: that rebuild belongs to the
    # expire span, not to seen.rebuild_s; the resume and the expiry stay out
    # of the per-round layer times
    spans = [
        _span(0, 0, 10, name="crawler.run_round"),
        _span(1, 1, 3, parent=0, name="seen.add"),
        _span(2, 3, 4, parent=0, name="tablestore.read_table"),
        _span(3, 20, 30, name="crawler.resume"),
        _span(4, 22, 26, parent=3, name="seen.build_bloom"),
        _span(5, 27, 28, parent=3, name="tablestore.read_table"),
        _span(6, 40, 50, name="seen.expire"),
        _span(7, 42, 49, parent=6, name="seen.build_bloom"),
        _span(8, 41, 42, parent=6, name="tablestore.overwrite_table"),
    ]
    plain = crawl.CrawlRun(windows=[(0, 12)], crawl_s=12.0,
                           phases={"seed": 1.0, "admission": 2.0, "seen-add": 3.5,
                                   "ckpt-ledger": 1.0, "ckpt-reps": 2.0})
    log = EventLog([], {}, {}, {}, {}, {})
    m = layers.layer_metrics(spans, log, plain, 0.0, 0.0, "no-such-dir", 0.0)
    assert m["seen.rebuild_s"][0] == pytest.approx(4)
    assert m["seen.expire_s"][0] == pytest.approx(10)
    assert m["seen.add_s"][0] == pytest.approx(2)
    assert m["tablestore.read_s"][0] == pytest.approx(1)
    assert m["tablestore.write_s"][0] == 0
    assert m["trace.explained_share"][0] == pytest.approx(3 / 12)
    assert m["trace.per_url_share"][0] == 0
    assert m["crawler.phase_seen_add_s"][0] == pytest.approx(3.5)
    assert m["crawler.phase_checkpoint_s"][0] == pytest.approx(3)


def test_phase_walls_fold_seen_labels_into_the_calling_phase():
    class Eng:
        phase_wall = [("seed", 0.0), ("seen:append", 1.0), ("seen:done", 3.0),
                      ("r0:admission", 4.0), ("r0:seen-add", 6.0), ("seen:append", 7.0),
                      ("r0:ckpt-prep", 10.0)]

    assert crawl.phase_walls(Eng(), 11.0) == {
        "seed": 4.0, "admission": 2.0, "seen-add": 4.0, "ckpt-prep": 1.0}


def test_failed_crawls_are_counted():
    ok = crawl.CrawlRun(rows=3)
    bad = crawl.CrawlRun(problems=["ledger order differs at row 0"])
    out = run._report([ok, bad], {}, oracle_s=0.0)
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 2, 1)


@pytest.fixture(scope="module", params=workloads.NAMES)
def tiny_crawl(request, spark, tmp_path_factory):
    w = workloads.tiny(workloads.workload(request.param, seed=7))
    exp = oracle_check.expected(w.config)
    ckpt = str(tmp_path_factory.mktemp(w.name) / "ckpt")
    return w, exp, ckpt, crawl.crawl_plan(spark, w, ckpt, exp)


def test_tiny_workload_matches_oracle(tiny_crawl):
    w, exp, _, result = tiny_crawl
    assert result.problems == []
    assert result.rows == len(exp.order) > 0
    assert len(result.rounds_s) == w.config.rounds
    assert result.phases["admission"] > 0
    assert exp.expired, "the plan must expire some URLs"


def test_corrupted_ledger_is_a_failure(spark, tiny_crawl):
    from webcrawl_lowres_lang_spark.streaming.crawler import CrawlEngine

    w, exp, ckpt, _ = tiny_crawl
    # swap the first two fetches of round 0: same rows, wrong order
    files = sorted(glob.glob(os.path.join(ckpt, "ledger", "r0", "*.parquet")))
    led = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    first, second = led.index[led["fetch_seq"] == 1][0], led.index[led["fetch_seq"] == 2][0]
    led.loc[[first, second], "fetch_seq"] = [2, 1]
    for f in files:
        os.remove(f)
    led.to_parquet(os.path.join(ckpt, "ledger", "r0", "part-00000-corrupt.parquet"), index=False)

    order, seen = oracle_check.engine_outputs(CrawlEngine.resume(spark, ckpt))
    problems = oracle_check.problems(order, seen, exp, w.config.rounds)
    assert problems and problems[0].startswith("ledger order differs")
    out = run._report([crawl.CrawlRun(problems=problems)], {}, oracle_s=0.0)
    assert out["failed"] == 1 and not out["correct"]
