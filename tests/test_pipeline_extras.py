"""Positive-path semantics for the round-5 pipeline additions: PII scrub,
cross-doc boilerplate line dedup, benchmark decontamination, and the
length-percentile report.

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
    _FOOTER_A,
    _FOOTER_B,
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


def test_boilerplate_lines_removed(spark):
    out = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_boilerplate_lines"].fn(spark, SF_DIR).collect()
    }
    docs = _docs()
    assert set(out) == set(docs)
    # body-line corpus frequency (a base text repeated >=3 times is itself
    # boilerplate by the rule; count it honestly)
    freq: dict[str, int] = {}
    for t in docs.values():
        freq[t] = freq.get(t, 0) + 1
    n_footer_a = sum(1 for d in docs if d % 3 == 0)
    n_footer_b = sum(1 for d in docs if d % 5 == 0)
    assert n_footer_a >= 3 and n_footer_b >= 3  # fixture premise
    for doc_id, text in docs.items():
        r = out[doc_id]
        exp_lines = 1 + (doc_id % 3 == 0) + (doc_id % 5 == 0)
        assert r["n_lines"] == exp_lines, doc_id
        body_boiler = freq[text] >= 3
        exp_boiler = int(body_boiler) + (doc_id % 3 == 0) + (doc_id % 5 == 0)
        assert r["n_boilerplate"] == exp_boiler, doc_id
        kept = "" if body_boiler else text
        assert r["kept_md5"] == hashlib.md5(kept.encode()).hexdigest(), doc_id
        assert r["kept_chars"] == len(kept)
        assert _FOOTER_A not in kept and _FOOTER_B not in kept


def test_contamination_flags_exact_copies(spark):
    rows = REGISTRY["bench_contamination"].fn(spark, SF_DIR).collect()
    by_id = {r["doc_id"]: r for r in rows}
    docs = _docs()
    bench_ids = {d for d in docs if d % 97 == 0}
    assert bench_ids  # fixture premise
    # bench originals excluded from the training side
    assert not (bench_ids & set(by_id))
    # exact copies of bench docs: every gram hits -> ratio 1.0
    for b in bench_ids:
        copy = by_id[b + 1_000_000]
        assert copy["contaminated"] is True
        assert copy["n_grams"] > 0
        assert copy["n_hit"] == copy["n_grams"]
        assert copy["contamination_ratio"] == 1.0
    # training side covers corpus minus bench originals
    assert len(by_id) == 2 * len(docs) - len(bench_ids)


def test_length_percentiles_monotone(spark):
    rows = REGISTRY["text_length_percentiles"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_docs"] > 0
        assert 0 < r["p50_tokens"] <= r["p90_tokens"] <= r["p99_tokens"] <= r["max_tokens"]


def test_duplicate_spans_matches_python_twin(spark):
    # third implementation: pure-python shingle frequency + interval merge
    # over the raw parquet, independent of both SQL dialects.
    import math
    import re as _re

    from webcrawl_lowres_lang_spark.plans.pipeline_ops import _SPAN_K, _SPAN_TAIL

    def toks(s: str) -> list[str]:
        return [t for t in _re.sub(r"[^a-z0-9 ]", " ", s.lower()).split(" ") if t]

    docs = {}
    for doc_id, text in _docs().items():
        t = toks(text)
        docs[doc_id] = t
        half = t[: math.ceil(len(t) / 2)]
        docs[doc_id + 1_000_000] = half + [
            f"t{doc_id}q{j}" for j in range(_SPAN_TAIL)
        ]
    # shingle -> set of docs
    where: dict[tuple, set] = {}
    for doc_id, t in docs.items():
        for i in range(len(t) - _SPAN_K + 1):
            where.setdefault(tuple(t[i : i + _SPAN_K]), set()).add(doc_id)
    expected = {}
    for doc_id, t in docs.items():
        pos = [
            i
            for i in range(len(t) - _SPAN_K + 1)
            if len(where[tuple(t[i : i + _SPAN_K])]) >= 2
        ]
        spans = []
        for p in pos:
            s, e = p, p + _SPAN_K - 1
            if spans and s <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([s, e])
        expected[doc_id] = (
            len(pos),
            len(spans),
            sum(e - s + 1 for s, e in spans),
            max((e - s + 1 for s, e in spans), default=0),
        )
    out = REGISTRY["dedup_duplicate_spans"].fn(spark, SF_DIR).collect()
    assert len(out) == len(expected)
    for r in out:
        want = expected[r["doc_id"]]
        got = (r["n_dup_grams"], r["n_spans"], r["dup_tokens"], r["longest_span"])
        assert got == want, (r["doc_id"], got, want)


def test_duplicate_spans_plants_long_prefix_span(spark):
    # the planted construction guarantees: every sufficiently long original
    # carries a merged span covering (at least) its shared first half.
    import math

    from pyspark.sql import functions as F

    from webcrawl_lowres_lang_spark.plans.pipeline_ops import _SPAN_K

    out = REGISTRY["dedup_duplicate_spans"].fn(spark, SF_DIR)
    rows = out.filter(
        (F.col("doc_id") < 1_000_000) & (F.col("n_toks") >= 4 * _SPAN_K)
    ).collect()
    assert rows
    for r in rows:
        half = math.ceil(r["n_toks"] / 2)
        assert r["longest_span"] >= half - _SPAN_K, (r["doc_id"], r["longest_span"], half)


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


def test_semdedup_numpy_twin(spark):
    """Third implementation of semdedup_embedding (numpy over the raw
    parquet): quantize -> integer Lloyd (seed-assign, elementwise-sum
    update, reassign) -> within-cell pairwise integer cosine threshold ->
    earliest exemplar. Guards against a defect shared by both SQL
    dialects."""
    import numpy as np
    import pandas as pd

    from webcrawl_lowres_lang_spark.plans.pipeline_ops import (
        _IVF_K,
        _IVF_SCALE,
        _SEM_T_DEN,
        _SEM_T_NUM,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    v = np.stack([np.asarray(x, dtype=np.float64) for x in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    q = np.concatenate(
        [
            np.floor(v * _IVF_SCALE).astype(np.int64),
            np.floor((v + 0.05) * _IVF_SCALE).astype(np.int64),
        ]
    )
    vid = np.concatenate([ids, ids + 1_000_000])
    order = np.argsort(vid)
    q, vid = q[order], vid[order]
    seeds = q[vid < _IVF_K]
    # assign #1: exact integer L2, ties to the lowest seed index
    d1 = ((q[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
    c1 = d1.argmin(axis=1)  # argmin takes the first (lowest j) on ties
    # update + assign #2 via the same integer numerator / c^2 score
    cells = np.unique(c1)
    S = np.stack([q[c1 == c].sum(axis=0) for c in cells])
    n = np.array([(c1 == c).sum() for c in cells], dtype=np.int64)
    sss = (S * S).sum(axis=1)
    x2 = (q * q).sum(axis=1)
    num = (
        n[None, :] ** 2 * x2[:, None]
        - 2 * n[None, :] * (q @ S.T)
        + sss[None, :]
    )
    score = num / (n[None, :] ** 2).astype(np.float64)
    c2 = cells[score.argmin(axis=1)]
    # within-cell pairwise threshold, earliest exemplar
    n2 = (q * q).sum(axis=1)
    dup_of: dict[int, int] = {}
    for c in np.unique(c2):
        idx = np.where(c2 == c)[0]  # vid-ascending (sorted above)
        G = q[idx] @ q[idx].T
        for bi in range(1, len(idx)):
            for ai in range(bi):
                qd = int(G[ai, bi])
                if qd > 0 and _SEM_T_DEN * qd * qd >= _SEM_T_NUM * int(
                    n2[idx[ai]]
                ) * int(n2[idx[bi]]):
                    dup_of[int(vid[idx[bi]])] = int(vid[idx[ai]])
                    break  # ai ascends, so the first hit is the MIN id
    from webcrawl_lowres_lang_spark.plans.registry import REGISTRY

    out = {r["vec_id"]: r for r in REGISTRY["semdedup_embedding"].fn(spark, SF_DIR).collect()}
    assert len(out) == len(vid)
    cell_of = dict(zip(vid.tolist(), c2.tolist()))
    for vec_id, row in out.items():
        assert row["cell"] == cell_of[vec_id], vec_id
        assert row["dup_of"] == dup_of.get(vec_id), vec_id
        assert row["kept"] == (vec_id not in dup_of), vec_id
    assert dup_of, "threshold never fired - test would be vacuous"


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
