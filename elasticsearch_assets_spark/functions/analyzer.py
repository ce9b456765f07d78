"""Code-aware text analyzer (tokenizer).

The reference delegates analysis to Elasticsearch's analyzers
(SURVEY.md §2.6 "Layer B"); for a source-code corpus the north rule asks
for identifier/camelCase/path-aware splitting. This module defines ONE
deterministic, stateless tokenization and implements it three ways that
must agree byte-for-byte:

1. ``analyze_col``        — Spark built-in expressions (regexp_replace +
                            lower + split + filter). JVM-side, whole-stage
                            codegen, no Python in the hot path.
2. ``analyze_text``       — pure Python. Used by unit tests and the BM25
                            rank-parity oracle.
3. ``duckdb_analyze_sql`` — the same pipeline as a DuckDB SQL expression,
                            used by the driver's oracle queries.

Tokenization spec (applied in order):
  0. non-ASCII → token separator. Final tokens can only ever contain
     [a-z0-9] (step d deletes everything else), so non-ASCII input
     NEVER survives into a token anyway — but lowercasing it first is
     engine-dependent: Python/JVM map U+0130 'İ' → 'i' + combining
     dot (an ASCII leak) while DuckDB maps it → 'i', and such
     special-casing tables differ per engine. Separating non-ASCII
     BEFORE casing makes the three implementations byte-identical on
     arbitrary unicode (fuzz-verified), at the cost of dropping the
     handful of non-ASCII uppercase letters whose lowercase would have
     landed in ASCII.
  a. camelCase boundary:   insert space between [a-z0-9] and [A-Z]
     ("parseDate" -> "parse Date", "base64Url" -> "base64 Url")
  b. acronym boundary:     insert space between [A-Z]+ and [A-Z][a-z]
     ("HTTPServer" -> "HTTP Server")
  c. lowercase
  d. split on runs of non-[a-z0-9] (handles snake_case, paths "/", dots,
     punctuation, whitespace)
  e. drop empty tokens

No stemming, no stop words: matches ES keyword-ish code search and keeps
the three implementations trivially identical.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# (0) ASCII gate, (a) camelCase boundary, (b) acronym boundary, (d) split.
ASCII_RE = r"[^\x00-\x7F]+"
# Spark spelling of the SAME class: Java's \P{ASCII} = not-in-[0,0x7F].
# Measured 3x: a NEGATED class containing \x00 defeats Spark's regex
# ASCII fast path (whole-pipeline analyze 2.0s -> 6.4s over 120k docs)
# while \P{ASCII}+ is free (2.1s); Python re has no \P and DuckDB's RE2
# cost only touches sf0.01 oracle queries, so those keep the hex class.
SPARK_ASCII_RE = r"\P{ASCII}+"
CAMEL_RE = r"([a-z0-9])([A-Z])"
ACRONYM_RE = r"([A-Z]+)([A-Z][a-z])"
SPLIT_RE = r"[^a-z0-9]+"

_ascii = re.compile(ASCII_RE)
_camel = re.compile(CAMEL_RE)
_acronym = re.compile(ACRONYM_RE)
_split = re.compile(SPLIT_RE)


def analyze_text(text: str) -> list[str]:
    """Pure-Python analyzer — the oracle implementation."""
    if not text:
        return []
    s = _ascii.sub(" ", text)
    s = _camel.sub(r"\1 \2", s)
    s = _acronym.sub(r"\1 \2", s)
    s = s.lower()
    return [t for t in _split.split(s) if t]


def analyze_col(col: Column | str) -> Column:
    """Spark-native analyzer: returns array<string> of tokens.

    Stays entirely inside whole-stage codegen (regexp_replace/lower/
    split/filter are all JVM built-ins) — this is the index-build hot
    path at 10^12-file scale, so no Python is allowed here.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c, SPARK_ASCII_RE, " ")
    s = F.regexp_replace(s, CAMEL_RE, r"$1 $2")
    s = F.regexp_replace(s, ACRONYM_RE, r"$1 $2")
    s = F.lower(s)
    arr = F.split(s, SPLIT_RE)
    # drop-empty-tokens step (e) as array_remove, NOT
    # F.filter(arr, lambda t: t != ""): identical output (split yields
    # no NULL elements, array_remove drops every '' element), but
    # lambda-free (r7, guide §1.1/§7.2). A LambdaFunction anywhere in
    # an expression forces the enclosing Generate/Filter/Project node
    # out of whole-stage codegen into interpreted evaluation, and
    # lambda variable exprIds defeat plan canonicalization, so
    # identical analyzer subtrees were never Exchange/subquery-reused.
    return F.array_remove(arr, "")


def duckdb_analyze_sql(expr: str) -> str:
    """DuckDB SQL expression producing the same token list as
    ``analyze_text`` over SQL expression ``expr``.

    Used to build the driver-side oracle queries so BM25 scores are
    value-checked end to end.
    """
    return (
        "list_filter(regexp_split_to_array(lower("
        f"regexp_replace(regexp_replace(regexp_replace({expr},"
        f" '{ASCII_RE}', ' ', 'g'),"
        f" '{CAMEL_RE}', '\\1 \\2', 'g'),"
        f" '{ACRONYM_RE}', '\\1 \\2', 'g')), '{SPLIT_RE}'), t -> t <> '')"
    )
