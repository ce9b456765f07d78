"""textstats unit goldens (operators are otherwise value-checked only
through the driver entries): BPE-ish token counting must agree between
Spark (Java regex) and DuckDB (RE2) on arbitrary text — the pattern is
deliberately restricted to constructs both engines evaluate
identically (no lookahead, explicit whitespace class)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_assets_spark.operators import textstats


def _spark_counts(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = textstats.token_count(df, "text", "doc_id")
    return {r["doc_id"]: (r["n_tokens"], r["n_words"], r["n_bpe"])
            for r in out.collect()}


def _duck_bpe(texts):
    con = duckdb.connect()
    pat = textstats.BPE_ISH_REGEX.replace("'", "''")
    out = {}
    for i, t in enumerate(texts):
        out[i] = con.execute(
            f"SELECT len(regexp_extract_all(?, '{pat}'))", [t]
        ).fetchone()[0]
    return out


def test_bpe_ish_goldens(spark):
    cases = {
        "hello world": 2,           # ' ?letters' x2
        "it's fine": 3,             # it + 's + ' fine'
        "a  b": 3,                  # 'a', '  ' (ws run), 'b'
        "x1y2": 4,                  # x,1,y,2
        "foo_bar": 3,               # 'foo', '_', 'bar'
        "": 0,
        "   ": 1,                   # one whitespace run
        "we're 100% done": 5,       # we + 're + ' 100' + '%' + ' done'
    }
    got = _spark_counts(spark, list(cases))
    for i, (text, want) in enumerate(cases.items()):
        assert got[i][2] == want, (text, got[i][2], want)


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.sampled_from("ab1 .'\t\n_é-"), max_size=40))
def test_bpe_ish_cross_engine(text):
    # pure-driver check against DuckDB (no spark session per example)
    import re

    java_like = re.findall(textstats.BPE_ISH_REGEX, text)
    # re.findall returns group captures when groups exist; count via finditer
    n_py = sum(1 for _ in re.finditer(textstats.BPE_ISH_REGEX, text))
    n_duck = _duck_bpe([text])[0]
    assert n_py == n_duck, (text, n_py, n_duck)


def test_bpe_ish_spark_matches_duckdb_batch(spark):
    texts = [
        "the quick brown fox", "it's we're you'll I've they'd",
        "x\ty\nz", "a1b2 c3", "...!!!", "tabs\t\tand  spaces",
        "mixed_case CamelCase snake_case", "unicode é ü ñ end",
    ]
    got = _spark_counts(spark, texts)
    duck = _duck_bpe(texts)
    for i, t in enumerate(texts):
        assert got[i][2] == duck[i], (t, got[i][2], duck[i])


def test_token_count_null_text(spark):
    # ADVICE r5: NULL text must count as 0/1/0 (coalesced to ''), not
    # Spark's size(NULL) = -1 vs DuckDB's NULL
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one two")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_words"], r["n_bpe"])
        for r in textstats.token_count(df, "text", "doc_id").collect()
    }
    assert out[1] == (0, 1, 0)
    assert out[1] == out[2]  # NULL behaves exactly like ''
    assert out[3] == (2, 2, 2)


def test_repetition_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "aa bb aa bb aa bb"),   # 2g: 5 total/2 distinct; 3g: 4/2
            (2, "one two three four"),  # no repeats
            (3, "xx"),                  # shorter than any n
            (4, None),                  # null text
            (5, "zz zz zz zz"),         # single repeated token
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (
            r["dup_2gram_frac"], r["top_2gram_frac"],
            r["dup_3gram_frac"], r["top_3gram_frac"],
        )
        for r in textstats.repetition(df, "text", "doc_id").collect()
    }
    assert out[1] == (0.6, 0.6, 0.5, 0.5)
    assert out[2] == (0.0, round(1 / 3, 4), 0.0, 0.5)
    assert out[3] == (0.0, 0.0, 0.0, 0.0)
    assert out[4] == (0.0, 0.0, 0.0, 0.0)
    # "zz zz zz zz": 2g 3 total 1 distinct -> dup 2/3 top 1; 3g 2/1
    assert out[5] == (round(2 / 3, 4), 1.0, 0.5, 1.0)
    # an id column whose name needs quoting in the encoder's schema
    odd = textstats.repetition(
        df.withColumnRenamed("doc_id", "doc id"), "text", "doc id"
    )
    assert {
        r["doc id"]: (
            r["dup_2gram_frac"], r["top_2gram_frac"],
            r["dup_3gram_frac"], r["top_3gram_frac"],
        )
        for r in odd.collect()
    } == out


def test_repetition_matches_duckdb_fold(spark):
    # the Spark sort+longest-run fold == DuckDB's explode/groupBy road
    # on generated docs (the entry oracle's exact SQL shape)
    import duckdb

    from elasticsearch_assets_spark.corpus import generate_corpus_pandas
    from elasticsearch_assets_spark.functions.analyzer import duckdb_analyze_sql

    pdf = generate_corpus_pandas(40, seed=3)[["content"]].reset_index()
    pdf.columns = ["doc_id", "text"]
    got = {
        r["doc_id"]: (r["dup_2gram_frac"], r["top_2gram_frac"])
        for r in textstats.repetition(
            spark.createDataFrame(pdf), "text", "doc_id"
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    sql = f"""
WITH toks AS (SELECT doc_id, {duckdb_analyze_sql('text')} AS arr FROM documents),
g2 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(arr)),
         i -> array_to_string(arr[i : i + 1], ' '))) AS g
  FROM toks WHERE len(arr) >= 2
),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
SELECT doc_id, round(1 - count(*)::DOUBLE / sum(c), 4) AS dup,
       round(max(c)::DOUBLE / sum(c), 4) AS top
FROM c2 GROUP BY doc_id
"""
    for doc_id, dup, top in con.execute(sql).fetchall():
        assert got[doc_id][0] == dup, doc_id
        assert got[doc_id][1] == top, doc_id


# ---------------------------------------------------------------------------
# unigram LM (CCNet-style quality signal)
# ---------------------------------------------------------------------------


def _brute_lm(docs, k=0.5):
    import math
    from collections import Counter

    from elasticsearch_assets_spark.functions.analyzer import analyze_text

    c = Counter()
    for t in docs:
        c.update(analyze_text(t or ""))
    total = sum(c.values())
    vocab = len(c)
    denom = total + k * (vocab + 1)
    return {t: math.log((n + k) / denom) for t, n in c.items()}, math.log(k / denom)


def test_unigram_lm_matches_brute_force(spark):
    docs = ["a b b c", "b c c d", "a a", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "doc_id long, text string")
    lm = {r["term"]: (r["count"], r["logp"]) for r in textstats.unigram_lm(df).collect()}
    want, _ = _brute_lm(docs)
    assert set(lm) == set(want)
    for t, lp in want.items():
        assert lm[t][1] == pytest.approx(lp, abs=1e-12)
    assert lm["b"][0] == 3  # exact counts


def test_doc_nll_brute_force_and_empty(spark):
    import math

    from elasticsearch_assets_spark.functions.analyzer import analyze_text

    docs = ["a b b c", "b c c d", "a a", "", None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    lm = textstats.unigram_lm(df)
    got = {
        r["doc_id"]: (r["n_tok"], r["nll_per_tok"])
        for r in textstats.doc_nll(df, lm).collect()
    }
    want_lm, _ = _brute_lm(docs)
    for i, t in enumerate(docs):
        toks = analyze_text(t or "")
        if not toks:
            assert i not in got  # empty/null docs dropped
            continue
        nll = sum(-want_lm[x] for x in toks) / len(toks)
        assert got[i][0] == len(toks)
        assert got[i][1] == pytest.approx(nll, rel=1e-12), i


def test_doc_nll_oov_handling(spark):
    df = spark.createDataFrame([(0, "a b"), (1, "a z")], "doc_id long, text string")
    train = spark.createDataFrame([(0, "a b a b")], "doc_id long, text string")
    lm = textstats.unigram_lm(train)
    # without oov_logp, 'z' is silently ignored but n_tok still counts it
    got = {r["doc_id"]: r for r in textstats.doc_nll(df, lm).collect()}
    assert got[1]["n_tok"] == 2
    # with oov_logp, the unseen term contributes the reserved-slot mass
    import math

    k, total, vocab = 0.5, 4, 2
    oov = math.log(k / (total + k * (vocab + 1)))
    got2 = {
        r["doc_id"]: r for r in textstats.doc_nll(df, lm, oov_logp=oov).collect()
    }
    a_lp = math.log((2 + k) / (total + k * (vocab + 1)))
    want = (-a_lp + -oov) / 2
    assert got2[1]["nll_per_tok"] == pytest.approx(want, rel=1e-12)
    assert got2[1]["nll_per_tok"] > got2[0]["nll_per_tok"]  # OOV doc less likely


def test_doc_nll_partition_invariant(spark):
    from pyspark.sql import functions as F

    from elasticsearch_assets_spark.corpus import generate_corpus_pandas
    from elasticsearch_assets_spark.indexing.build import with_doc_id

    sdf = with_doc_id(
        spark.createDataFrame(generate_corpus_pandas(80, seed=3))
    ).select("doc_id", F.col("content").alias("text"))
    lm = textstats.unigram_lm(sdf)
    a = sorted(map(tuple, textstats.doc_nll(sdf, lm).collect()))
    b = sorted(
        map(tuple, textstats.doc_nll(sdf.repartition(17), lm, ).collect())
    )
    assert a == b  # bit-identical under repartitioning (sorted fold)
