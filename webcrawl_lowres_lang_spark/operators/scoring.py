"""Language-relevance scoring (SURVEY A12/U2, F6/C8 token semantics).

Reference semantics re-expressed (not ported):
- tokenize: strip punctuation ``[^\\w\\s]`` -> space, whitespace split,
  lowercase, keep len>=3 with no digits (``extract.py:35-41,65-70``).
- term vectors are aligned to the LEXICON's sorted term order, missing
  terms -> 0 (``termdistribution.py:5-28``); cosine = dot/(|a||b|) with
  degenerate (zero-norm) -> 0.0 (``termdistribution.py:31-66``).

Float determinism (SURVEY §4 risk list): the kernel below is THE single
implementation — the Spark pandas UDF and the sequential parity oracle both
call it, with a fixed sorted term order and float64 accumulation, so scores
are bit-identical at any parallelism.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

_PUNCT_RE = re.compile(r"[^\w\s]")
_DIGIT_RE = re.compile(r"[0-9]")


def tokenize(text: str) -> list[str]:
    """Reference token filter: punctuation stripped, lowercase, len>=3,
    no digit characters."""
    if not text:
        return []
    words = _PUNCT_RE.sub(" ", text).lower().split()
    return [w for w in words if len(w) >= 3 and not _DIGIT_RE.search(w)]


class LexiconVector:
    """Sorted-term-order lexicon vector (W8: determinism-critical layout)."""

    def __init__(self, term_freqs: dict[str, int]):
        self.terms = sorted(term_freqs)  # lexicographic — fixed layout
        self.index = {t: i for i, t in enumerate(self.terms)}
        self.vec = np.array([float(term_freqs[t]) for t in self.terms], dtype=np.float64)
        self.norm = float(np.sqrt(np.dot(self.vec, self.vec)))

    def cosine(self, text: str) -> float:
        """Single-text cosine — the sequential-oracle entry point.

        Delegates to the batch kernel so the engine and the oracle share
        one accumulation order (BLAS GEMV) — bit-identical floats.
        """
        return float(self.cosine_batch(pd.Series([text])).iloc[0])

    def cosine_batch(self, texts: pd.Series) -> pd.Series:
        """Arrow-batch cosine — the Spark entry point. Identical math:
        per-text doc vector (same dict lookups) then one vectorized
        matrix product over the batch."""
        mat = np.zeros((len(texts), len(self.terms)), dtype=np.float64)
        for r, t in enumerate(texts):
            for w in tokenize(t or ""):
                i = self.index.get(w)
                if i is not None:
                    mat[r, i] += 1.0
        norms = np.sqrt((mat * mat).sum(axis=1))
        dots = mat @ self.vec
        denom = norms * self.norm
        out = np.where(denom > 0.0, dots / np.where(denom == 0.0, 1.0, denom), 0.0)
        return pd.Series(out)


def relevance_udf(spark: SparkSession, lex: LexiconVector):
    """Broadcast the lexicon vector once; score captions JVM->Arrow->numpy.
    At cluster scale the broadcast is ~|lexicon| floats per executor, and
    scoring cost is one GEMV per Arrow batch."""
    bc = spark.sparkContext.broadcast(lex)

    @F.pandas_udf(DoubleType())
    def score(captions: pd.Series) -> pd.Series:
        return bc.value.cosine_batch(captions)

    return score


def threshold_classify(score: Column, lang: str, threshold: float) -> Column:
    """F11: conf > th -> lang else 'NON-<lang>' (nlp.py:403-416)."""
    return F.when(score > F.lit(threshold), F.lit(lang)).otherwise(F.lit(f"NON-{lang}"))
