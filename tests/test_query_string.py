"""Parser goldens + query_string end-to-end vs the oracle.

Query forms mirror what the reference emits/translates
(SpacesReaderClient.ts:222-259): wildcards, OR-of-wildcards, ranges
[A TO B}, AND-joins, field-qualified terms.
"""

from __future__ import annotations

import pytest

from elasticsearch_assets_spark.query import parser as P
from elasticsearch_assets_spark.query.planner import PlannerConfig, QueryPlanner


# ---- parser goldens ---------------------------------------------------
@pytest.mark.parametrize(
    "q,expected",
    [
        ("foo", P.Term(None, "foo")),
        ("content:foo", P.Term("content", "foo")),
        ("uuid:ba2*", P.Wildcard("uuid", "ba2*")),
        ('"load config"', P.Phrase(None, "load config")),
        (
            "a AND b",
            P.And((P.Term(None, "a"), P.Term(None, "b"))),
        ),
        (
            "a b",  # implicit default operator OR
            P.Or((P.Term(None, "a"), P.Term(None, "b"))),
        ),
        ("NOT a", P.Not(P.Term(None, "a"))),
        (
            "(a* OR b*)",
            P.Or((P.Wildcard(None, "a*"), P.Wildcard(None, "b*"))),
        ),
        (
            "created:[2019-04-26T15:00:23.201Z TO 2019-04-26T15:00:23.394Z}",
            P.Range(
                "created",
                "2019-04-26T15:00:23.201Z",
                "2019-04-26T15:00:23.394Z",
                True,
                False,
            ),
        ),
        ("bytes:>=100", P.Range("bytes", "100", None, True, True)),
        ("bytes:<50", P.Range("bytes", None, "50", True, False)),
        (
            "lang:(py OR go)",
            P.Or((P.Term("lang", "py"), P.Term("lang", "go"))),
        ),
        (
            "x:[a TO b] AND NOT y:c",
            P.And((P.Range("x", "a", "b", True, True), P.Not(P.Term("y", "c")))),
        ),
        ("id:/[a-f].*/", P.Regexp("id", "[a-f].*")),
        # fuzzy: explicit distance, Lucene default 2 when omitted
        ("merg~1", P.Fuzzy(None, "merg", 1)),
        ("merg~", P.Fuzzy(None, "merg", 2)),
        ("content:merg~1", P.Fuzzy("content", "merg", 1)),
        # boost on terms, fuzzy terms, and phrases
        ("content:merge^2", P.Boost(P.Term("content", "merge"), 2.0)),
        ("merg~1^2", P.Boost(P.Fuzzy(None, "merg", 1), 2.0)),
        ('"load config"^1.5', P.Boost(P.Phrase(None, "load config"), 1.5)),
        # _exists_ pseudo-field
        ("_exists_:lang", P.Exists("lang")),
        (
            "_exists_:lang AND merge",
            P.And((P.Exists("lang"), P.Term(None, "merge"))),
        ),
        # +required / -prohibited clause modifiers
        (
            "+a b -c",
            P.Or(
                (P.Must(P.Term(None, "a")), P.Term(None, "b"), P.Not(P.Term(None, "c")))
            ),
        ),
        ("+lang:de", P.Must(P.Term("lang", "de"))),
        ("-(a OR b)", P.Not(P.Or((P.Term(None, "a"), P.Term(None, "b"))))),
        ("foo-bar", P.Term(None, "foo-bar")),  # interior hyphen is literal
    ],
)
def test_parse_goldens(q, expected):
    assert P.parse(q) == expected


def test_parser_never_crashes_fuzz():
    """Any byte soup either parses or raises ValueError — no other
    exception type, no recursion blowups (20k-case shake distilled)."""
    import random

    rng = random.Random(21)
    pool = list('abcXYZ019 :*?~^+-()[]{}"/\\<>=&|!.') + ["AND", "OR", "NOT", "TO"]
    for _ in range(2500):
        q = "".join(rng.choice(pool) for _ in range(rng.randint(1, 14)))
        try:
            P.parse(q, default_field="f")
        except ValueError:
            pass


def test_parse_errors():
    with pytest.raises(ValueError):
        P.parse("(a OR b")  # unclosed paren
    with pytest.raises(ValueError):
        P.parse("x:[a TO")  # incomplete range


def test_parse_phrase_slop():
    assert P.parse('"load config"~2') == P.Phrase(None, "load config", 2)
    assert P.parse('f:"load config"~1') == P.Phrase("f", "load config", 1)
    # bare ~ = query-parser default phrase slop 0 (NOT fuzzy's 2)
    assert P.parse('"load config"~') == P.Phrase(None, "load config", 0)
    # slop then boost, Lucene suffix order
    assert P.parse('"load config"~2^3') == P.Boost(
        P.Phrase(None, "load config", 2), 3.0
    )
    assert P.parse('"load config"^3') == P.Boost(
        P.Phrase(None, "load config", 0), 3.0
    )


# ---- end-to-end over the corpus fixture --------------------------------
@pytest.fixture(scope="module")
def planner(corpus):
    index, oracle = corpus
    cfg = PlannerConfig(default_field="content", text_fields=("content",))
    return QueryPlanner(index, config=cfg), oracle


def _ids(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_matches_oracle_expansion(planner):
    """fuzzy = BM25 OR over all dictionary terms within max_edits —
    expansion recomputed independently with a pure-Python levenshtein
    over the oracle's vocabulary."""
    qp, oracle = planner
    got = _ids(qp.query_string("content:merg~1", k=10))
    expansions = sorted(t for t in oracle.tf if _levenshtein(t, "merg") <= 1)
    assert "merge" in expansions  # the corpus vocabulary guarantees a hit
    exp_scored = oracle.score_terms(expansions)
    exp = sorted(
        ((d, s) for d, (s, _n) in exp_scored.items()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-9


def test_required_optional_prohibited(planner):
    """`+batch merge -stream`: batch gates, merge only adds score,
    stream excludes — verified against the oracle's bool_query plus a
    hand-built score check."""
    qp, oracle = planner
    got = dict(
        _ids(qp.plan(P.parse("+content:batch content:merge -content:stream")))
    )
    batch = oracle.score_terms(["batch"])
    merge = oracle.score_terms(["merge"])
    stream = oracle.score_terms(["stream"])
    exp = {
        d: s + (merge[d][0] if d in merge else 0.0)
        for d, (s, _) in batch.items()
        if d not in stream
    }
    assert got.keys() == exp.keys() and got
    for d, s in exp.items():
        assert abs(got[d] - s) < 1e-9
    # at least one doc matches batch WITHOUT merge (pure-must doc) and
    # one matches both (score-added doc), or the test proves nothing
    assert any(d not in merge for d in exp)
    assert any(d in merge for d in exp)


def test_boost_scales_scores(planner):
    qp, _ = planner
    plain = dict(_ids(qp.plan(P.parse("content:parseDate"))))
    boosted = dict(_ids(qp.plan(P.parse("content:parseDate^2"))))
    assert boosted.keys() == plain.keys() and plain
    for d, s in plain.items():
        assert abs(boosted[d] - 2.0 * s) < 1e-12


def test_exists_filters_nulls(spark, corpus):
    from pyspark.sql import functions as F

    from elasticsearch_assets_spark.query.planner import QueryPlanner

    index, _ = corpus
    attrs = index.doc_norms.withColumn(
        "maybe", F.when(F.col("doc_id") % 2 == 0, F.lit("x"))
    )
    qp = QueryPlanner(index, attrs=attrs)
    n_all = attrs.count()
    n_exists = qp.plan(P.parse("_exists_:maybe")).count()
    assert 0 < n_exists < n_all
    assert n_exists == attrs.where(F.col("maybe").isNotNull()).count()


def test_qs_single_term_matches_oracle(planner):
    qp, oracle = planner
    got = _ids(qp.query_string("content:parseDate", k=10))
    # analyzer splits parseDate -> [parse, date]; AND semantics
    exp_scored = oracle.score_terms(["date", "parse"])
    exp = sorted(
        ((d, s) for d, (s, n) in exp_scored.items() if n == 2),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (gd, gs), (ed, es) in zip(got, exp):
        assert abs(gs - es) < 1e-9


def test_qs_bool_and_or(planner):
    qp, oracle = planner
    got = {d for d, _ in _ids(qp.query_string("merge AND batch", k=10**6))}
    exp = set(oracle.tf.get("merge", {})) & set(oracle.tf.get("batch", {}))
    assert got == exp

    got_or = {d for d, _ in _ids(qp.query_string("merge OR batch", k=10**6))}
    exp_or = set(oracle.tf.get("merge", {})) | set(oracle.tf.get("batch", {}))
    assert got_or == exp_or


def test_qs_not(planner):
    qp, oracle = planner
    got = {d for d, _ in _ids(qp.query_string("merge AND NOT batch", k=10**6))}
    exp = set(oracle.tf.get("merge", {})) - set(oracle.tf.get("batch", {}))
    assert got == exp


def test_qs_keyword_field_and_range(planner, corpus):
    qp, _ = planner
    index, _ = corpus
    langs = {
        r["doc_id"]: r["lang"]
        for r in index.doc_norms.select("doc_id", "lang").collect()
    }
    got = {d for d, _ in _ids(qp.query_string("lang:py", k=10**6))}
    exp = {d for d, l in langs.items() if l == "py"}
    assert got == exp

    got2 = {d for d, _ in _ids(qp.query_string("lang:(py OR go)", k=10**6))}
    exp2 = {d for d, l in langs.items() if l in ("py", "go")}
    assert got2 == exp2


def test_qs_keyword_wildcard(planner, corpus):
    qp, _ = planner
    index, _ = corpus
    repos = {
        r["doc_id"]: r["repo"]
        for r in index.doc_norms.select("doc_id", "repo").collect()
    }
    got = {d for d, _ in _ids(qp.query_string("repo:org1/*", k=10**6))}
    exp = {d for d, rp in repos.items() if rp.startswith("org1/")}
    assert got == exp


def test_qs_phrase(planner, corpus):
    qp, oracle = planner
    got = {d for d, _ in _ids(qp.query_string('"load config"', k=10**6))}
    exp = {d for d, _ in oracle.phrase("load config", k=10**6)}
    assert got == exp


def test_qs_zero_hits(planner):
    qp, _ = planner
    assert qp.query_string("zz_does_not_exist", k=10).count() == 0


def test_qs_pure_negative(planner, corpus):
    """Pure-negative query: all docs minus exclusions, score 0."""
    qp, oracle = planner
    index, _ = corpus
    got = {d for d, _ in _ids(qp.query_string("NOT merge", k=10**6))}
    all_ids = {r["doc_id"] for r in index.doc_norms.select("doc_id").collect()}
    exp = all_ids - set(oracle.tf.get("merge", {}))
    assert got == exp


def test_qs_not_inside_or(planner, corpus):
    """a OR NOT b: ES/Lucene query_string treats the NOT as a bool-level
    MUST_NOT — docs matching a, excluding b."""
    qp, oracle = planner
    got = {d for d, _ in _ids(qp.query_string("uniq_7 OR NOT merge", k=10**6))}
    # uniq_7 analyzes to [uniq, 7] and requires both (AND of parts)
    exp = (
        set(oracle.tf.get("uniq", {})) & set(oracle.tf.get("7", {}))
    ) - set(oracle.tf.get("merge", {}))
    assert got == exp


def test_qs_field_group_with_range(planner, corpus):
    """lang:(py OR go) AND numeric-ish mix parses and filters."""
    qp, _ = planner
    index, _ = corpus
    langs = {
        r["doc_id"]: r["lang"]
        for r in index.doc_norms.select("doc_id", "lang").collect()
    }
    got = {
        d for d, _ in _ids(qp.query_string("lang:(py OR go) AND NOT lang:py", k=10**6))
    }
    exp = {d for d, l in langs.items() if l == "go"}
    assert got == exp


@pytest.mark.parametrize(
    "q",
    [
        "merge batch -parse",
        "+batch merge -stream",
        "merge AND batch",
        "merge OR merge",
        "uniq_7 OR NOT merge",
        "parseDate AND merge",
        "-parseDate merge",
        "merge OR __",
        "merge AND __",
        "merge AND NOT merge",
        None,  # an OR of 40 dictionary terms: the sorted-array fold
        "merge OR lang:py -batch",
        "+lang:py merge -parseDate",
        "lang:py -merge",
        '"load config" OR zz_nope -merge',
        "-merge -batch",
    ],
)
def test_qs_clauses_equal_clause_fold(planner, corpus, q):
    """A combinator scores the clause-order fold 0.0 + s_0 + s_1 + ...
    of its clauses' own scores, each from the oracle: a text term clause
    scores its analyzed parts and matches only when all of them do (a
    clause with no parts matches nothing), lang:x is 1.0, a phrase its
    BM25. + and every AND child are required, a bare OR child is
    optional, - / NOT excludes; with no positive clause every doc
    scores 0.0."""
    from elasticsearch_assets_spark.functions.analyzer import analyze_text

    qp, oracle = planner
    index, _ = corpus
    langs = {r["doc_id"]: r["lang"] for r in index.doc_norms.select("doc_id", "lang").collect()}
    if q is None:
        q = " OR ".join(sorted(oracle.tf)[:40])

    def hits(node):
        if isinstance(node, P.Phrase):
            return dict(oracle.phrase(node.text, k=10**6))
        if node.field == "lang":
            return {d: 1.0 for d, lang in langs.items() if lang == node.value}
        parts = sorted(set(analyze_text(node.value)))
        return {d: s for d, (s, n) in oracle.score_terms(parts).items() if n == len(parts)} if parts else {}

    node = P.parse(q, default_field="content")
    clauses = [(type(c), hits(c.child if isinstance(c, (P.Must, P.Not)) else c)) for c in node.children]
    pos = [(isinstance(node, P.And) or kind is P.Must, h) for kind, h in clauses if kind is not P.Not]
    required = [set(h) for req, h in pos if req]
    if required:
        docs = set.intersection(*required)
    else:
        docs = set().union(*[h for _, h in pos]) if pos else set(langs)
    docs -= set().union(*[h for kind, h in clauses if kind is P.Not])
    exp = {}
    for d in docs:
        score = 0.0
        for _, h in pos:
            score += h.get(d, 0.0)
        exp[d] = score
    got = dict(_ids(qp.plan(node)))
    assert got.keys() == exp.keys()
    for d, s in exp.items():
        assert abs(got[d] - s) <= 1e-9 * max(1.0, s), (d, got[d], s)


def test_qs_count(planner, corpus):
    qp, oracle = planner
    assert qp.count("merge OR batch") == len(
        set(oracle.tf.get("merge", {})) | set(oracle.tf.get("batch", {}))
    )
