"""Property-based robustness: random ASTs round-trip through the
xLucene printer, and the three analyzer implementations agree on
arbitrary unicode-ish input."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_assets_spark.functions.analyzer import (
    analyze_text,
    duckdb_analyze_sql,
)
from elasticsearch_assets_spark.query import parser as P
from elasticsearch_assets_spark.sources.spaces import to_xlucene

# ---- random AST → print → parse is identity --------------------------------
_field = st.sampled_from(["content", "lang", "uuid", "created", "bytes", None])
_word = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8
)


def _leaf():
    return st.one_of(
        st.builds(P.Term, _field, _word),
        st.builds(
            P.Phrase,
            _field,
            st.lists(_word, min_size=1, max_size=3).map(" ".join),
            st.integers(min_value=0, max_value=4),  # slop prints as ~N
        ),
        st.builds(P.Wildcard, _field, _word.map(lambda w: w + "*")),
        st.builds(
            P.Range,
            _field,
            _word,
            _word,
            st.booleans(),
            st.booleans(),
        ),
    )


_ast = st.recursive(
    _leaf(),
    lambda children: st.one_of(
        st.lists(children, min_size=2, max_size=3).map(lambda c: P.And(tuple(c))),
        st.lists(children, min_size=2, max_size=3).map(lambda c: P.Or(tuple(c))),
        children.map(P.Not),
    ),
    max_leaves=8,
)


@settings(max_examples=200, deadline=None)
@given(_ast)
def test_printer_parse_roundtrip_property(ast):
    assert P.parse(to_xlucene(ast)) == ast


# ---- analyzer 3-way agreement on fuzzed input -------------------------------
FUZZ_ALPHABET = (
    "abcXYZ019_./-()<>{}\n\t «»déjàβ漢字 camelCaseHTTPFoo snake_case "
)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=FUZZ_ALPHABET, max_size=60))
def test_analyzer_python_duckdb_agree(s):
    con = _duck()
    got = con.execute(f"select {duckdb_analyze_sql('?')}", [s]).fetchone()[0]
    assert list(got) == analyze_text(s), repr(s)


_CON = None


def _duck():
    global _CON
    if _CON is None:
        _CON = duckdb.connect()
    return _CON


def test_analyzer_spark_agrees_on_fuzz_batch(spark):
    """Spark side batched (one job for all fuzz strings)."""
    import random

    rng = random.Random(42)
    texts = [
        "".join(rng.choice(FUZZ_ALPHABET) for _ in range(rng.randrange(0, 60)))
        for _ in range(300)
    ]
    texts = [t for t in texts if t]
    from elasticsearch_assets_spark.functions.analyzer import analyze_col

    df = spark.createDataFrame([(t,) for t in texts], ["txt"])
    got = [r[0] for r in df.select(analyze_col("txt")).collect()]
    assert got == [analyze_text(t) for t in texts]


def test_compile_filter_matches_plan_on_fuzz_batch(spark):
    """Random attrs-only ASTs: the joinless predicate compilation and
    the join-based plan() must produce identical match sets — incl.
    null attributes under negation (three-valued logic hazard)."""
    import random

    from pyspark.sql import functions as F

    from elasticsearch_assets_spark.query.planner import (
        PlannerConfig,
        QueryPlanner,
    )

    rng = random.Random(1234)
    rows = [
        (
            i,
            rng.choice(["alpha", "beta", "gamma", None]),
            rng.choice([None, rng.randrange(100)]),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, tag string, num int")

    def leaf():
        k = rng.randrange(5)
        if k == 0:
            return P.Term("tag", rng.choice(["alpha", "beta", "zeta"]))
        if k == 1:
            return P.Wildcard("tag", rng.choice(["a*", "*a", "b?ta"]))
        if k == 2:
            lo, hi = sorted(rng.sample(range(100), 2))
            return P.Range("num", str(lo), str(hi), rng.random() < 0.5, rng.random() < 0.5)
        if k == 3:
            return P.Exists(rng.choice(["tag", "num"]))
        return P.Fuzzy("tag", "alpa", 1)

    def ast(depth=0):
        if depth >= 2 or rng.random() < 0.4:
            return leaf()
        k = rng.randrange(4)
        if k == 0:
            return P.And(tuple(ast(depth + 1) for _ in range(rng.randint(2, 3))))
        if k == 1:
            return P.Or(tuple(ast(depth + 1) for _ in range(rng.randint(2, 3))))
        if k == 2:
            return P.Not(ast(depth + 1))
        return P.Must(ast(depth + 1))

    qp = QueryPlanner(None, attrs=df, config=PlannerConfig())
    for _case in range(25):
        node = ast()
        via_join = {r["doc_id"] for r in qp.plan(node).collect()}
        via_pred = {
            r["doc_id"] for r in df.where(qp.compile_filter(node)).collect()
        }
        assert via_pred == via_join, node


# ---- slicer conservation invariants under fuzzing ----------------------------
@settings(max_examples=30, deadline=None)
@given(
    # 0..5000 per ms: includes over-`size` single-ms bursts, the shape
    # that sent the reference's expanded branch into infinite recursion
    st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=120),
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=1, max_value=400),
)
def test_date_slicer_conserves_and_never_overlaps(counts, interval, size):
    """Any per-ms distribution: the walk's slices are disjoint, ordered,
    cover [start, limit), and their counts sum to the total."""
    import numpy as np

    from elasticsearch_assets_spark.operators.date_slicer import date_slicer_plan

    ts = np.repeat(np.arange(len(counts)), counts)

    def cf(a, b):
        return int(np.searchsorted(ts, b) - np.searchsorted(ts, a))

    limit = len(counts)
    plan = date_slicer_plan(cf, 0, limit, interval, size)
    assert plan[0].start_ms == 0 and plan[-1].end_ms == limit
    for prev, cur in zip(plan, plan[1:]):
        assert prev.end_ms == cur.start_ms  # gapless, ordered
    assert sum(p.count for p in plan) == int(ts.size)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="0123456789abcdef", min_size=1, max_size=6),
        ),
        min_size=1,
        max_size=300,
    ),
    st.integers(min_value=2, max_value=50),
)
def test_i3_optimized_conserves_all_keys(key_rows, size):
    """Any hex keyspace — including variable-length keys with hot
    exact-key clusters: BOTH id planners' counts sum to the corpus size
    and the emitted expressions never overlap (each key matches exactly
    one slice). Exact-key remainders emit as `prefix$` (the engine's
    data-conservation extension — the reference's wildcard descent
    loses docs whose key IS an over-`size` prefix)."""
    import re

    from elasticsearch_assets_spark.operators.id_slicer import (
        class_count_fn_from_keys,
        id_slicer_plan,
        id_slicer_plan_optimized,
    )

    keys = [k for (k,) in key_rows]

    def check(plan):
        assert sum(c for _, c in plan) == len(keys)
        pats = [re.compile("^" + e) for e, _ in plan]
        for k in keys:
            assert sum(1 for p in pats if p.match(k)) == 1, (k, plan)

    check(
        id_slicer_plan_optimized(
            class_count_fn_from_keys(keys), "hexadecimal", size=size
        )
    )

    def count_fn(prefix):
        return sum(1 for k in keys if k.startswith(prefix))

    check(id_slicer_plan(count_fn, "hexadecimal", size=size))


def test_multi_slicer_ranges_cover_even_fixture(spark):
    """D3×D4 composition: two slicers' walks over the even fixture
    partition the corpus exactly."""
    from elasticsearch_assets_spark.fixtures import even_spread as ES
    from elasticsearch_assets_spark.operators.date_slicer import (
        date_slicer_plan,
        make_date_slicer_ranges,
        spark_count_fn,
    )

    df = ES.even_spread_df(spark).cache()
    ranges = make_date_slicer_ranges(df, "created", n_slicers=2, size=50)
    assert len(ranges) == 2
    assert ranges[0]["limit"] == ranges[1]["start"]
    cf = spark_count_fn(df, "created")
    total = 0
    for rng in ranges:
        plan = date_slicer_plan(
            cf, rng["start"], rng["limit"], rng["interval_ms"], 50
        )
        total += sum(p.count for p in plan)
    assert total == 1000
    df.unpersist()


# ---- sloppy-phrase exactness (r5: spread semantics + exact repeated-
# term assignment) ------------------------------------------------------
def _brute_phrase_match(tokens, phrase_terms, slop):
    """Ground truth: EXISTS one position per slot, all positions
    distinct (same-term slots may not share a token; distinct terms
    never can), with adjusted-position spread <= slop."""
    from itertools import product

    pos = {
        t: [i for i, x in enumerate(tokens) if x == t]
        for t in set(phrase_terms)
    }
    if any(not pos[t] for t in phrase_terms):
        return False
    for sel in product(*[pos[t] for t in phrase_terms]):
        if len(set(sel)) < len(sel):
            continue
        adjusted = [p - i for i, p in enumerate(sel)]
        if max(adjusted) - min(adjusted) <= slop:
            return True
    return False


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.sampled_from("ab"), min_size=1, max_size=9),
    st.lists(st.sampled_from("ab"), min_size=2, max_size=4),
    st.integers(min_value=0, max_value=3),
)
def test_oracle_sloppy_phrase_matches_brute_force(doc, phrase, slop):
    """The oracle's phrase matcher (which exec.phrase_query is
    parity-pinned against) must agree with brute-force assignment
    search on every doc/phrase/slop — including repeated-term phrases,
    where the greedy staircase assignment must be EXACT (the r4 Hall
    relaxation could over-match)."""
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    text = " ".join(doc)
    oracle = OracleIndex({1: text})
    got = bool(oracle.phrase(" ".join(phrase), k=10, slop=slop))
    want = _brute_phrase_match(doc, phrase, slop)
    assert got == want, (doc, phrase, slop, got, want)


# ---- hostile literals through the SQL-text query surface --------------------
# Values that reach query SQL text unanalyzed (terms_query terms, keyword
# values, wildcard patterns). Spark's parser unescapes string literals
# (\uXXXX, \n, octal), so a quoting slip turns a value into another one
# or into a parse error.
HOSTILE = [
    "it's", 'say "hi"', "back\\slash", "tick`tock", "\\u0041", "\\n",
    "100%", "snake_case", "naïve", "日本", "a'); --",
]
# what a wrong quoting would turn some of them into: present in the
# index, so a slip shows up as a wrong result, not only as a parse error
DECOYS = ["A", "\n", "100x", "snakexcase", "backslash", "it"]


@pytest.fixture(scope="module")
def hostile_index(spark):
    """An index whose RAW terms and keyword values are the hostile
    strings (built directly, past the analyzer), plus its oracle."""
    import random

    from elasticsearch_assets_spark.functions.xxhash import term_bucket
    from elasticsearch_assets_spark.indexing.build import IndexTables
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    rng = random.Random(11)
    vocab = HOSTILE + DECOYS + ["alpha", "beta"]
    n_buckets = 4
    oracle = OracleIndex({})
    postings, tags = [], {}
    for d in range(40):
        doc_terms = rng.sample(vocab, 5) + (["alpha"] if d % 2 else [])
        tf = {t: rng.randint(1, 3) for t in doc_terms}
        dl = sum(tf.values())
        oracle.dl[d] = dl
        for t, n in tf.items():
            oracle.tf[t][d] = n
            postings.append((t, d, n, dl, term_bucket(t, n_buckets)))
        tags[d] = (HOSTILE + DECOYS)[d % (len(HOSTILE) + len(DECOYS))]
    oracle.n_docs = len(oracle.dl)
    oracle.avg_dl = sum(oracle.dl.values()) / oracle.n_docs
    dfs = [(t, len(per)) for t, per in oracle.tf.items()]
    index = IndexTables(
        postings=spark.createDataFrame(
            postings, "term string, doc_id long, tf int, dl int, bucket int"
        ),
        terms=spark.createDataFrame(dfs, "term string, df long"),
        doc_norms=spark.createDataFrame(
            [(d, oracle.dl[d], tags[d]) for d in tags],
            "doc_id long, dl int, tag string",
        ),
        n_docs=oracle.n_docs,
        avg_dl=oracle.avg_dl,
        n_buckets=n_buckets,
        terms_rev=spark.createDataFrame(
            [(t[::-1], t, n) for t, n in dfs], "rev string, term string, df long"
        ),
    )
    return index, oracle, tags


@pytest.mark.parametrize("value", HOSTILE)
def test_hostile_literals_match_oracle(hostile_index, value):
    """Each hostile value through terms_query, bool_query, a quoted
    keyword value in query_string and wildcard patterns: results equal
    the oracle / a plain-Python filter, and nothing fails to parse."""
    import fnmatch

    from elasticsearch_assets_spark.query import exec as qx
    from elasticsearch_assets_spark.query.planner import (
        PlannerConfig,
        QueryPlanner,
    )

    index, oracle, tags = hostile_index
    k = qx.ALL_MATCHES

    def rows(df):
        return sorted((r["doc_id"], r["score"]) for r in df.collect())

    want = sorted((d, s) for d, (s, _n) in oracle.score_terms([value, "alpha"]).items())
    assert want and rows(qx.terms_query(index, [value, "alpha"], k=k)) == want

    other = HOSTILE[(HOSTILE.index(value) + 1) % len(HOSTILE)]
    got = rows(qx.bool_query(index, must=[value], should=["alpha"], must_not=[other], k=k))
    assert got == sorted(
        oracle.bool_query(must=[value], should=["alpha"], must_not=[other], k=len(tags))
    )

    qp = QueryPlanner(
        index,
        attrs=index.doc_norms,
        config=PlannerConfig(default_field="content", text_fields=("content",)),
    )
    quoted = '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"'
    got = {r["doc_id"] for r in qp.query_string(f"tag:{quoted}", k=k).collect()}
    assert got and got == {d for d, t in tags.items() if t == value}

    dictionary = list(oracle.tf)
    for pattern in (value + "*", "*" + value, "*" + value + "*", value[0] + "*" + value[-1], value + "?"):
        hit = {t for t in dictionary if fnmatch.fnmatchcase(t, pattern.lower())}
        want_docs = sorted({d for t in hit for d in oracle.tf[t]})
        got_docs = [r["doc_id"] for r in qx.wildcard_query(index, pattern, k=len(tags)).collect()]
        assert got_docs == want_docs, pattern
