"""Positive-path semantics for DSIR importance sampling
(``plans/pipeline_ops.sample_dsir_importance``).

The oracle gate (test_relational_oracle) already pins the op against its
DuckDB twin; this test pins the SEMANTICS with a third, independent
implementation (python hashlib over the raw parquet) so an error shared
by both SQL dialects can't hide.
"""

from __future__ import annotations

from webcrawl_lowres_lang_spark.plans.registry import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def test_dsir_python_twin(spark):
    """Third implementation of sample_dsir_importance (pure python over the
    raw parquet): re-tokenize, hash uni+bigram features via md5, add-one
    smoothed target/raw log-ratio profile, per-doc mean weight, 75th-
    percentile keep threshold (quantile_cont interpolation)."""
    import hashlib as hl
    import math
    import re

    import duckdb

    from webcrawl_lowres_lang_spark.plans.pipeline_ops import (
        _DSIR_D,
        _DSIR_TARGET,
    )

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id, lang, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    finally:
        con.close()

    def feats(text):
        toks = [t for t in re.sub(r"[^a-z0-9 ]", " ", text.lower()).split(" ") if t]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        out: dict[int, int] = {}
        for g in grams:
            f = int(hl.md5(g.encode()).hexdigest()[:15], 16) % _DSIR_D
            out[f] = out.get(f, 0) + 1
        return out

    per_doc = {d: feats(t) for d, _, t in rows}
    lang_of = {d: lang for d, lang, _ in rows}
    raw: dict[int, int] = {}
    tgt: dict[int, int] = {}
    for d, fc in per_doc.items():
        for f, c in fc.items():
            raw[f] = raw.get(f, 0) + c
            if lang_of[d] == _DSIR_TARGET:
                tgt[f] = tgt.get(f, 0) + c
    R, T = sum(raw.values()), sum(tgt.values())
    lr = {
        f: round(
            math.log((tgt.get(f, 0) + 1.0) / (T + _DSIR_D))
            - math.log((rf + 1.0) / (R + _DSIR_D)),
            9,
        )
        for f, rf in raw.items()
    }
    weights = {}
    for d, fc in per_doc.items():
        n = sum(fc.values())
        if n == 0:
            continue
        weights[d] = round(sum(c * lr[f] for f, c in fc.items()) / n, 6)
    ws = sorted(weights.values())
    pos = 0.75 * (len(ws) - 1)
    lo, hi = int(math.floor(pos)), int(math.ceil(pos))
    thr = ws[lo] + (ws[hi] - ws[lo]) * (pos - lo)

    out = {
        r["doc_id"]: r
        for r in REGISTRY["sample_dsir_importance"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(weights)
    for d, w in weights.items():
        assert abs(out[d]["dsir_weight"] - w) < 2e-6, d
        assert out[d]["n_feats"] == sum(per_doc[d].values()), d
        assert out[d]["kept"] == (weights[d] >= thr), d
    kept_by_lang = {}
    for d, r in out.items():
        kept_by_lang.setdefault(r["lang"], []).append(r["kept"])
    # the selector must actually select: target-lang docs concentrate in
    # the top quartile, the raw pool mostly stays out
    tgt_rate = sum(kept_by_lang[_DSIR_TARGET]) / len(kept_by_lang[_DSIR_TARGET])
    others = [k for lg, ks in kept_by_lang.items() if lg != _DSIR_TARGET for k in ks]
    assert tgt_rate >= 0.8
    assert sum(others) / len(others) < 0.5 < tgt_rate
