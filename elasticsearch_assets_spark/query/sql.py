"""SQL text for the query hot path.

Every query is rendered as a few SQL strings — the bucket/term pruning
predicate, the per-row BM25 contribution, the term-sorted
conditional-sum fold, the match-count gates — and handed to Spark
through ``where``/``selectExpr``/``F.expr``. The same expressions built
from PySpark ``Column`` operations cost about 15 py4j round trips per
operation (each op captures its call site); a SQL string is one call
and one parse on the JVM side.

Per-query doubles stay out of the generated Java. The query's idfs ride
ONE ``map('t', LN(...), ...)`` literal: constant folding evaluates it
JVM-side into a map object that codegen references instead of inlining,
and each row reads its term's idf as ``element_at(idf_map, term)``.
String literals are referenced objects too, so queries of one shape
(same term count, same operator) render the same Java source and reuse
one compiled class. The index constants (``n_docs``, ``avg_dl``) and
the BM25 parameters stay inlined: they are fixed per index.

Float association is op for op the one of ``bm25.score``:
``(idf * tf_norm) * (k1 + 1)`` per (term, doc), and
``0.0 + coalesce(s_0, 0.0) + ...`` per doc in term-sorted order, so
scores stay bit-identical to the Python oracle.

Every value that reaches SQL text goes through ``lit`` (values) or
``ident`` (column names).
"""

from __future__ import annotations

import math

from elasticsearch_assets_spark.query.bm25 import K1, B


def lit(v) -> str:
    """A Python value as a SQL literal. Strings escape backslash and the
    quote, so Spark's unescaping (``\\uXXXX``, ``\\n``, octal) gives the
    value back unchanged; floats render as exact ``D`` doubles."""
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isfinite(v):
            return repr(v) + "D"
        return f"CAST('{v}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def ident(name: str) -> str:
    """A column reference the way ``F.col`` reads a name: dot-separated
    parts (struct fields), each a backquoted identifier."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def in_list(col: str, values) -> str:
    return f"{col} IN ({', '.join(lit(v) for v in values)})"


def idf(n_docs: int, df: str) -> str:
    """ln(1 + (N - df + 0.5) / (df + 0.5)) over a double SQL operand."""
    return f"LN(1.0D + ({lit(float(n_docs))} - {df} + 0.5D) / ({df} + 0.5D))"


def idf_map(n_docs: int, dfs: dict[str, int]) -> str:
    """The query's per-term idfs as one map literal (folded JVM-side)."""
    return "map(" + ", ".join(
        f"{lit(t)}, {idf(n_docs, lit(float(df)))}" for t, df in sorted(dfs.items())
    ) + ")"


def contrib(
    idf_sql: str, tf: str, dl: str, avg_dl: float, k1: float = K1, b: float = B
) -> str:
    """One (term, doc) BM25 contribution: idf * tf_norm * (k1 + 1)."""
    tf, dl = f"CAST({tf} AS DOUBLE)", f"CAST({dl} AS DOUBLE)"
    norm = (
        f"{tf} / ({tf} + {lit(float(k1))} * ({lit(1.0 - b)}"
        f" + {lit(float(b))} * {dl} / {lit(float(avg_dl))}))"
    )
    return f"{idf_sql} * ({norm}) * {lit(k1 + 1.0)}"


def fold(values: list[str]) -> str:
    """0.0 + coalesce(v_0, 0.0) + ... — left to right, in list order.
    A NULL (absent) value adds an IEEE-exact +0.0, and the chain stays
    linear in the value count."""
    return " + ".join(["0.0D"] + [f"coalesce({v}, 0.0D)" for v in values])


def term_fold(terms: list[str], value: str, key: str = "term") -> str:
    """Per-group score from rows unique per (key, group): one
    conditional sum per key (each is that key's single value), folded
    in the given order — an aggregate expression, pure codegen."""
    return fold([f"sum(CASE WHEN {key} = {lit(t)} THEN {value} END)" for t in terms])


def array_fold(arr: str, terms: list[str] | None) -> str:
    """Fold over a sorted array of (term, contrib) structs from 0.0,
    keeping only the structs of `terms` (None: the whole array)."""
    if terms is not None:
        if not terms:
            return "0.0D"
        arr = f"filter({arr}, x -> {in_list('x.term', sorted(terms))})"
    return f"aggregate({arr}, 0.0D, (acc, x) -> acc + x.contrib)"


def candidates(buckets: list[int], terms: list[str]) -> str:
    """Postings pruning predicate: bucket partition filter + term IN."""
    return f"{in_list('bucket', buckets)} AND {in_list('term', terms)}"


def live_rows(dead: dict[int, int]) -> str:
    """Segment rows no tombstone kills, given ``dead`` = doc_id -> the
    widest ``applies_below`` of its live tombstones: a row is dead iff
    its doc_id is listed and its ``orig_part`` is below that bound. The
    IN list becomes a hash-set probe, so a live row costs one lookup;
    only a listed doc reads its bound from the map literal."""
    ids = sorted(dead)
    bounds = ", ".join(f"{lit(d)}, {lit(dead[d])}" for d in ids)
    return f"NOT ({in_list('doc_id', ids)} AND orig_part < element_at(map({bounds}), doc_id))"


def positions_score(cols: dict[str, str], dfs: dict[str, int], n_docs: int, avg_dl: float) -> str:
    """BM25 over per-term positions columns (phrase rows: one positions
    array per term, tf = its size, dl a column), summed from 0.0 in the
    dict's order. An ``aggregate`` over (tf, term) structs keys the idf
    map by term without a per-query double in the generated code."""
    rows = ", ".join(f"struct(size({c}) AS tf, {lit(t)} AS term)" for t, c in cols.items())
    c = contrib(f"element_at({idf_map(n_docs, dfs)}, x.term)", "x.tf", "dl", avg_dl)
    return f"aggregate(array({rows}), 0.0D, (acc, x) -> acc + {c})"


def spread_slop(slots: list[str], slop: int) -> str:
    """Lucene sloppy-phrase match for 3+-term phrases over per-slot
    positions columns (slot i -> its column; repeated terms share one):
    EXISTS an anchor w (in adjusted-position space) whose window
    [w, w+slop] intersects every slot's adjusted positions (adjusted =
    raw - slot offset). Anchor candidates are exactly the union of
    adjusted positions: the optimal window starts at some slot's
    element. Nested higher-order functions, no UDF.

    EXACT distinct-token requirement for repeated terms: slot i's
    usable tokens form the interval [w+i, w+slop+i] of the sorted
    position list, and both endpoints are nondecreasing in i (a
    staircase interval bipartite graph) — for those, Hall's condition
    restricted to CONTIGUOUS slot ranges is necessary and sufficient for
    a distinct assignment (greedy smallest-feasible-position argument),
    and each range's neighborhood union is counted exactly by the
    OR-of-windows filter. O(c^2) range checks for c slots of the same
    term (c is tiny).

    r6 measurement note: three alternatives were interleave-A/B'd at
    1.2M on the dense 'load config value'~2 probe — (a) let-binding the
    adjusted arrays in a lambda scope (anchors were ALREADY
    per-doc-distinct via array_distinct): 3.2-3.6s vs 3.2-3.3s, no
    change; (b) sort-merge sliding-window pass over (value, slot)
    structs: 7.0-8.4s, 2x WORSE (struct sort + per-step array allocs);
    (c) int-encoded merge with a flat primitive accumulator: 5.1-5.5s,
    still worse. The positions arrays are short (~2-4 per term per doc)
    so the anchor scan's nominal quadratic never materializes, while
    every merge variant pays real per-element allocation constants; the
    probe's wall time is the positions join pipeline, not this
    predicate. The anchor form stands."""
    adj = [f"transform({c}, x -> x - {i})" for i, c in enumerate(slots)]
    conds = [f"exists({a}, q -> q >= w AND q <= w + {slop})" for a in adj]
    by_col: dict[str, list[int]] = {}
    for i, c in enumerate(slots):
        by_col.setdefault(c, []).append(i)
    for c, ss in by_col.items():
        for a_i in range(len(ss)):
            for b_i in range(a_i + 1, len(ss)):
                rng = ss[a_i : b_i + 1]
                win = " OR ".join(f"(p >= w + {i} AND p <= w + {slop + i})" for i in rng)
                conds.append(f"size(filter({c}, p -> {win})) >= {len(rng)}")
    anchors = f"array_distinct(flatten(array({', '.join(adj)})))"
    return f"exists({anchors}, w -> {' AND '.join(conds)})"
