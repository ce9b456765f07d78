"""Single-process BM25 oracle for rank/score-parity tests.

Re-derives top-k from raw documents using the same analyzer
(functions.analyzer.analyze_text) and the same BM25 math (query.bm25),
but in one deterministic pass with no Spark involved. Tests assert the
distributed engine matches this to 1e-6 (FIXTURES.md "Oracle notes").
"""

from __future__ import annotations

from collections import Counter, defaultdict

from elasticsearch_assets_spark.functions.analyzer import analyze_text
from elasticsearch_assets_spark.query import bm25


class OracleIndex:
    def __init__(self, docs: dict[int, str]):
        """docs: doc_id -> raw text."""
        self.tf: dict[str, dict[int, int]] = defaultdict(dict)
        self.positions: dict[str, dict[int, list[int]]] = defaultdict(dict)
        self.dl: dict[int, int] = {}
        for doc_id, text in docs.items():
            toks = analyze_text(text)
            self.dl[doc_id] = len(toks)
            counts = Counter(toks)
            for t, c in counts.items():
                self.tf[t][doc_id] = c
            pos: dict[str, list[int]] = defaultdict(list)
            for i, t in enumerate(toks):
                pos[t].append(i)
            for t, ps in pos.items():
                self.positions[t][doc_id] = ps
        self.n_docs = len(docs)
        self.avg_dl = (sum(self.dl.values()) / self.n_docs) if self.n_docs else 0.0

    def df(self, term: str) -> int:
        return len(self.tf.get(term, {}))

    def score_terms(self, terms: list[str]) -> dict[int, tuple[float, int]]:
        """doc_id -> (summed score, n distinct terms matched).

        Terms are summed in sorted order — the same deterministic order
        the engine uses — so float association matches.
        """
        acc: dict[int, float] = defaultdict(float)
        nm: dict[int, int] = defaultdict(int)
        for t in sorted(set(terms)):
            postings = self.tf.get(t, {})
            d = len(postings)
            if not d:
                continue
            i = bm25.idf(self.n_docs, d)
            for doc_id, tf in postings.items():
                acc[doc_id] += (
                    i * bm25.tf_norm(tf, self.dl[doc_id], self.avg_dl) * (bm25.K1 + 1)
                )
                nm[doc_id] += 1
        return {d: (s, nm[d]) for d, s in acc.items()}

    def match(self, text: str, k: int = 10, operator: str = "or"):
        terms = sorted(set(analyze_text(text)))
        scored = self.score_terms(terms)
        items = [
            (d, s)
            for d, (s, n) in scored.items()
            if operator != "and" or n == len(terms)
        ]
        items.sort(key=lambda x: (-x[1], x[0]))
        return items[:k]

    def bool_query(self, must=None, should=None, must_not=None, k: int = 10):
        must = sorted(set(must or []))
        should = sorted(set(should or []))
        must_not = set(must_not or [])
        scored = self.score_terms(sorted(set(must) | set(should)))
        must_scored = self.score_terms(must) if must else {}
        excluded = set()
        for t in must_not:
            excluded.update(self.tf.get(t, {}).keys())
        items = []
        for d, (s, _n) in scored.items():
            if d in excluded:
                continue
            if must and must_scored.get(d, (0, 0))[1] != len(must):
                continue
            items.append((d, s))
        items.sort(key=lambda x: (-x[1], x[0]))
        return items[:k]

    def phrase(self, phrase: str, k: int = 10, slop: int = 0):
        terms = analyze_text(phrase)
        if not terms:
            return []
        base = self.positions.get(terms[0], {})
        matched = []
        for doc_id, pos0 in base.items():
            if slop == 0 or len(terms) == 2:
                # exact chain / 2-term direct move count (q != p keeps
                # repeated-term 2-phrases on distinct tokens) — mirrors
                # exec.phrase_query's fast path
                starts = set(pos0)
                for i, t in enumerate(terms[1:], start=1):
                    nxt = set(self.positions.get(t, {}).get(doc_id, []))
                    if slop == 0:
                        starts = {p for p in starts if p + i in nxt}
                    else:
                        starts = {
                            p
                            for p in starts
                            if any(
                                abs(q - (p + i)) <= slop and q != p
                                for q in nxt
                            )
                        }
                    if not starts:
                        break
                if starts:
                    matched.append(doc_id)
                continue
            # 3+ terms: Lucene spread semantics (sql.spread_slop)
            adj = [
                {p - i for p in self.positions.get(t, {}).get(doc_id, [])}
                for i, t in enumerate(terms)
            ]
            if any(not a for a in adj):
                continue
            slot_map: dict[str, list[int]] = {}
            for i, t in enumerate(terms):
                slot_map.setdefault(t, []).append(i)
            anchors = set().union(*adj)

            def ok(w):
                if not all(
                    any(w <= q <= w + slop for q in a) for a in adj
                ):
                    return False
                for t, ss in slot_map.items():
                    if len(ss) >= 2:
                        # exact distinct assignment: slot windows are
                        # staircase intervals, so greedy
                        # smallest-feasible-unused-position is exact
                        # (mirrors sql.spread_slop's contiguous-
                        # range Hall checks)
                        raw = sorted(
                            self.positions.get(t, {}).get(doc_id, [])
                        )
                        used: set[int] = set()
                        for i in sorted(ss):
                            pick = next(
                                (
                                    p
                                    for p in raw
                                    if p not in used
                                    and w + i <= p <= w + slop + i
                                ),
                                None,
                            )
                            if pick is None:
                                return False
                            used.add(pick)
                return True

            if any(ok(w) for w in anchors):
                matched.append(doc_id)
        scored = self.score_terms(sorted(set(terms)))
        items = [(d, scored[d][0]) for d in matched]
        items.sort(key=lambda x: (-x[1], x[0]))
        return items[:k]
