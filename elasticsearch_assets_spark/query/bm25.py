"""BM25 scoring math — Lucene/ES defaults (k1=1.2, b=0.75).

Formulae pinned to Lucene's BM25Similarity (what Elasticsearch uses and
therefore what the reference's queries score with — SURVEY.md §2.6):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm(t,d)= tf / (tf + k1 * (1 - b + b * dl/avgdl))
    score(q,d)  = Σ_t idf(t) * tf_norm(t,d) * (k1 + 1)

Implemented twice, identically: as SQL text evaluated by Spark
(query/sql.py — same operations in the same order, so the doubles
match bit for bit) and as plain floats here (the pytest oracle). Ties
break (score desc, doc_id asc) — the ES tie-break.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_norm(tf: int, dl: int, avg_dl: float, k1: float = K1, b: float = B) -> float:
    return tf / (tf + k1 * (1.0 - b + b * dl / avg_dl))


def score(
    tf: int, dl: int, df: int, n_docs: int, avg_dl: float,
    k1: float = K1, b: float = B,
) -> float:
    """Python oracle: one term's contribution."""
    return idf(n_docs, df) * tf_norm(tf, dl, avg_dl, k1, b) * (k1 + 1.0)
