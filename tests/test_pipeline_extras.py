"""Positive-path semantics for the text and sampling operators of
``plans/pipeline_ops``: PII scrub, the length-percentile report, the
perplexity buckets and DSIR importance sampling.

The oracle gate (test_relational_oracle) already pins each op against its
DuckDB twin; these tests pin the SEMANTICS with a third, independent
implementation (python `re` / hashlib over the raw parquet) so an error
shared by both SQL dialects can't hide.
"""

from __future__ import annotations

import hashlib
import re

import duckdb

from webcrawl_lowres_lang_spark.plans.pipeline_ops import (
    _PII_EMAIL,
    _PII_IP,
    _PII_PHONE,
)
from webcrawl_lowres_lang_spark.plans.registry import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _docs() -> dict[int, str]:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    finally:
        con.close()
    return dict(rows)


def _inject_pii(doc_id: int, text: str) -> str:
    k = doc_id % 4
    if k == 0:
        return f"{text} reach me at user{doc_id}@example.com today"
    if k == 1:
        return f"{text} hotline 555-{doc_id % 1000:03d}-{doc_id % 10000:04d} now"
    if k == 2:
        return f"{text} server at 10.{doc_id % 256}.0.{(doc_id * 7) % 256} up"
    return text


def test_pii_scrub_counts_and_redaction(spark):
    out = {
        r["doc_id"]: r
        for r in REGISTRY["text_pii_scrub"].fn(spark, SF_DIR).collect()
    }
    docs = _docs()
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        r = out[doc_id]
        body = _inject_pii(doc_id, text)
        # third-implementation twin: python re with the SAME patterns
        exp = {
            "n_emails": len(re.findall(_PII_EMAIL, body)),
            "n_phones": len(re.findall(_PII_PHONE, body)),
            "n_ips": len(re.findall(_PII_IP, body)),
        }
        assert (r["n_emails"], r["n_phones"], r["n_ips"]) == (
            exp["n_emails"],
            exp["n_phones"],
            exp["n_ips"],
        ), doc_id
        k = doc_id % 4
        assert r["pii_total"] == (1 if k != 3 else 0)
        clean = re.sub(_PII_EMAIL, "<EMAIL>", body)
        clean = re.sub(_PII_PHONE, "<PHONE>", clean)
        clean = re.sub(_PII_IP, "<IP>", clean)
        assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest(), doc_id
        assert r["clean_chars"] == len(clean)
        # redacted text must carry no residual matches
        for pat in (_PII_EMAIL, _PII_PHONE, _PII_IP):
            assert not re.search(pat, clean), (doc_id, pat)


def test_length_percentiles_monotone(spark):
    rows = REGISTRY["text_length_percentiles"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_docs"] > 0
        assert 0 < r["p50_tokens"] <= r["p90_tokens"] <= r["p99_tokens"] <= r["max_tokens"]


def test_perplexity_bucket_matches_python_twin(spark):
    # third implementation: pure-python trigram LM + order-statistic
    # tertiles over the raw parquet, independent of both SQL dialects.
    import hashlib
    import math
    import re as _re

    from webcrawl_lowres_lang_spark.plans.pipeline_ops import _PPL_REF_CUT

    def toks(s: str) -> list[str]:
        return [t for t in _re.sub(r"[^a-z0-9 ]", " ", s.lower()).split(" ") if t]

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id, lang, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    finally:
        con.close()
    gcounts: dict[int, dict[str, int]] = {}
    doc_lang = {}
    for doc_id, lang, text in rows:
        doc_lang[doc_id] = lang
        c: dict[str, int] = {}
        for tok in toks(text):
            for i in range(len(tok) - 2):
                g = tok[i : i + 3]
                c[g] = c.get(g, 0) + 1
        gcounts[doc_id] = c
    model: dict[str, dict[str, int]] = {}
    for doc_id, c in gcounts.items():
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        if h < _PPL_REF_CUT:
            m = model.setdefault(doc_lang[doc_id], {})
            for g, dc in c.items():
                m[g] = m.get(g, 0) + dc
    stats = {lg: (sum(m.values()), len(m)) for lg, m in model.items()}
    ppl = {}
    for doc_id, c in gcounts.items():
        if not c:
            continue
        lg = doc_lang[doc_id]
        tot, v = stats[lg]
        m = model[lg]
        lp = sum(dc * math.log((m.get(g, 0) + 1.0) / (tot + v)) for g, dc in c.items())
        n = sum(c.values())
        ppl[doc_id] = (lg, n, round(math.exp(round(-lp / n, 9)), 6))
    thr = {}
    for lg in stats:
        vals = sorted(p for (l2, _, p) in ppl.values() if l2 == lg)
        nl = len(vals)
        thr[lg] = (vals[math.ceil(nl / 3) - 1], vals[math.ceil(2 * nl / 3) - 1])
    out = REGISTRY["text_perplexity_bucket"].fn(spark, SF_DIR).collect()
    assert len(out) == len(ppl)
    for r in out:
        lg, n, p6 = ppl[r["doc_id"]]
        assert (r["lang"], r["n_grams"]) == (lg, n)
        assert abs(r["ppl"] - p6) < 1e-9, (r["doc_id"], r["ppl"], p6)
        t1, t2 = thr[lg]
        want = "head" if p6 <= t1 else ("middle" if p6 <= t2 else "tail")
        assert r["bucket"] == want, (r["doc_id"], r["bucket"], want, p6, t1, t2)


def test_perplexity_reference_split_scores_lower(spark):
    # sanity of the CCNet shape: the in-model (reference-split) docs must
    # have lower mean perplexity than out-of-model docs — the LM has seen
    # them, so anything else means the split or scoring is wired wrong.
    from pyspark.sql import functions as F

    from webcrawl_lowres_lang_spark.plans.pipeline_ops import (
        _PPL_REF_CUT,
        _sample_hash_int_col,
    )

    out = REGISTRY["text_perplexity_bucket"].fn(spark, SF_DIR)
    split = out.withColumn("in_ref", _sample_hash_int_col() < F.lit(_PPL_REF_CUT))
    means = {
        r["in_ref"]: r["m"]
        for r in split.groupBy("in_ref").agg(F.avg("ppl").alias("m")).collect()
    }
    assert means[True] < means[False]


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
