"""The workloads. Each is a closed loop with one client (a library
caller waits for each DataFrame), builds its inputs from the seed with
``corpus.generate_corpus``, and checks its outputs against
single-process references outside the timed window.

``search_zipf`` and ``upsert_refresh`` are the workloads BENCHMARK.json
lists. ``batch_build`` and ``near_dup`` run by name only: every run pays
15-20 s of cold JVM start on a 4-core host, and four workloads times the
benchmark runner's run count do not fit its time budget (README.md,
"Dropped workloads").

A workload function takes a ``Ctx`` and returns a ``Result``."""

from __future__ import annotations

import dataclasses
import fnmatch
import os
import time

import numpy as np

import harness as H
from elasticsearch_assets_spark.corpus import HEAD_TOKENS

# Where each traffic parameter comes from is in README.md, "Workload
# parameters"; the ones marked "assumed" have no measured source.
# Corpus sizes: a run must finish set-up, warm-up, the timed window and
# its gate in about a minute on a 4-core host, so per-call fixed costs
# (job scheduling, file commits) dominate every timing here.
N_SEARCH = 300
N_UPSERT = 400
N_BUILD = 2000
N_NEARDUP = 1500
PLANTED_SHARE = 0.2  # near-duplicate copies per source doc
UPSERT_DOCS = N_UPSERT * 25 // 1000  # 2.5% of the base per commit
UPSERT_UPDATES = UPSERT_DOCS * 3 // 5  # live doc ids rewritten per commit (split assumed)
UPSERT_ADDS = UPSERT_DOCS - UPSERT_UPDATES  # new doc ids per commit
UPSERT_DELETES = UPSERT_DOCS  # doc ids tombstoned once, before the first commit (assumed)
# Warm-up lengths. A fresh JVM keeps getting faster for about 70 queries
# or 6 commits on a 4-core host (JIT); these are as long as the runner's
# time budget allows (README.md, "How a run is set up").
WARM_ROTATIONS = 4
WARM_COMMITS = 2
MAX_COMMITS = 16  # upper bound on warm-up plus timed commits
BASE_PARTS = 1  # segments of the resumable base build: ids [0, BASE_PARTS)
BUCKETS = 4  # term buckets, sized to a few-thousand-doc index
K = 10
JACCARD = 0.8


@dataclasses.dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: H.Tracer
    work: str


@dataclasses.dataclass
class Result:
    setup_s: float  # median set-up seconds
    loop: H.Loop
    problems: list  # correctness failures; any fails the run
    detail: dict  # the workload's own end-to-end figures: name -> (value, unit)
    notes: dict  # sample counts, warm-up length, sizes
    # traced runs: returns every per-layer figure; called once the session
    # stopped and the event log's counters are attached to the spans
    layers: object
    # per-layer metric names (or name prefixes) of layers this workload
    # never calls; they read 0, and any other missing metric fails the run
    absent: tuple


# ---------------------------------------------------------------------------
# inputs and shared checks
# ---------------------------------------------------------------------------


def make_corpus(ctx: Ctx, n: int, path: str, planted_share: float = 0.0):
    """The seed's generated corpus plus a seeded share of near-duplicate
    copies (two words of the body replaced, a new path so a new doc_id),
    written as parquet and read back: the on-disk corpus an indexer
    starts from. Rows come from ``generate_corpus_pandas``, the
    driver-side twin of ``generate_corpus`` (identical rows), because
    the rows are needed on the driver for edits and oracles anyway.
    Returns (frame, rows, planted (source, copy) row indexes)."""
    import pandas as pd

    from elasticsearch_assets_spark.corpus import generate_corpus_pandas

    pdf = generate_corpus_pandas(n, ctx.seed)
    rng = np.random.default_rng(ctx.seed * 13 + 1)
    rows = pdf.to_dict("records")
    planted = []
    for src in rng.choice(n, int(planted_share * n), replace=False):
        words = rows[src]["content"].split(" ")
        for pos in rng.choice(np.arange(2, len(words) - 3), 2, replace=False):
            words[pos] = rows[int(rng.integers(n))]["content"].split(" ")[2]
        planted.append((int(src), len(rows)))
        rows.append(dict(rows[src], path=rows[src]["path"] + ".copy", content=" ".join(words)))
    ctx.spark.createDataFrame(pd.DataFrame(rows)).write.mode("overwrite").parquet(H.fresh_dir(path))
    return ctx.spark.read.parquet(path), rows, planted


def doc_ids(spark, rows) -> list:
    """doc_id of each row, computed by the library (xxhash64 of the ids)."""
    from elasticsearch_assets_spark.indexing.build import with_doc_id

    df = spark.createDataFrame(
        [(i, r["repo"], r["path"], r["commit"]) for i, r in enumerate(rows)],
        "i long, repo string, path string, commit string",
    )
    by_i = dict(with_doc_id(df, text_col="repo").select("i", "doc_id").collect())
    return [by_i[i] for i in range(len(rows))]


def _canon(rows) -> list:
    """(doc_id, score) rows as the gate compares them: scores rounded to
    four places, ordered by score then doc_id."""
    out = [(round(float(s), 4), int(d)) for d, s in rows]
    out.sort(key=lambda x: (-x[0], x[1]))
    return out


def _repeat(times: int, fn):
    """Run ``fn`` ``times`` times; return (seconds of each, last result)."""
    durations, out = [], None
    for _ in range(times):
        t = time.perf_counter()
        out = fn()
        durations.append(time.perf_counter() - t)
    return durations, out


def _shingles(text: str, n: int = 3) -> set:
    from elasticsearch_assets_spark.functions.analyzer import analyze_text

    t = analyze_text(text)
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def check_pairs(pairs, texts: dict, planted) -> tuple[list, float]:
    """Every returned pair's exact shingle Jaccard is at or above the
    threshold and equals the reported one. Returns (problems, recall of
    the planted (id, id) pairs whose exact Jaccard reaches it)."""
    sh = {i: _shingles(t) for i, t in texts.items()}

    def jac(a, b):
        return len(sh[a] & sh[b]) / len(sh[a] | sh[b])

    problems, found = [], set()
    for r in pairs:
        a, b = int(r["id_a"]), int(r["id_b"])
        exact = jac(a, b)
        if exact < JACCARD or abs(exact - r["jaccard"]) > 1e-9:
            problems.append(f"pair ({a},{b}) jaccard {r['jaccard']} exact {exact}")
        found.add((min(a, b), max(a, b)))
    true = [(min(p), max(p)) for p in planted if jac(*p) >= JACCARD]
    return problems, sum(1 for p in true if p in found) / max(1, len(true))


# ---------------------------------------------------------------------------
# per-layer probes (traced runs, outside the timed window)
# ---------------------------------------------------------------------------


def layer_probes(ctx: Ctx, corpus) -> dict:
    """Per-row layers through a noop sink over the workload's corpus:
    the Arrow tf encoder (indexing) and the JVM analyzer (functions).
    The second of two passes, the first being cold."""
    from pyspark.sql import functions as F

    from elasticsearch_assets_spark.functions.analyzer import analyze_col
    from elasticsearch_assets_spark.indexing.arrowtf import encode_tf

    out = {}
    for name, make in (
        ("indexing.encode_tf_s", lambda: encode_tf(corpus, "content", keep=["path"])),
        ("functions.analyze_col_s", lambda: corpus.select(analyze_col(F.col("content")).alias("t"))),
    ):
        def noop():
            with ctx.tracer.span(name[:-2]):
                make().write.format("noop").mode("overwrite").save()

        out[name] = _repeat(2, noop)[0][1]
    return out


def dedup_probe(ctx: Ctx, df, texts: dict, planted) -> tuple[dict, list, dict]:
    """operators.dedup over ``df`` (id, content): the LSH candidates
    alone, then jaccard_pairs_verified. Returns (layer, problems, notes)."""
    from elasticsearch_assets_spark.operators import dedup
    from elasticsearch_assets_spark.operators.caps import drop_observation

    tr = ctx.tracer
    t = time.perf_counter()
    with tr.span("dedup.candidates"):
        n_cand = dedup.minhash_lsh_candidates(df, "content", "id").count()
    cand_s = time.perf_counter() - t
    ctr = drop_observation()
    with tr.span("dedup.jaccard_pairs_verified"):
        pairs = dedup.jaccard_pairs_verified(df, "content", "id", threshold=JACCARD, drop_obs=ctr).collect()
    problems, recall = check_pairs(pairs, texts, planted)
    layer = {
        "dedup.candidates_s": cand_s,
        "dedup.candidate_pairs": n_cand,
        "dedup.verified_pairs": len(pairs),
        "dedup.verify_yield": len(pairs) / max(1, n_cand),
        "dedup.cap_drops": ctr.stats()["dropped_rows"],
    }
    return layer, problems, {"dedup_pairs": len(pairs), "dedup_planted_recall": recall}


def build_layer(name: str, spans) -> dict:
    """Spark counters per call of one build span; first_s is the first
    (cold) call's wall time."""
    n = max(1, len(spans))
    return {
        f"{name}.task_cpu_s": H.span_sum(spans, "task_cpu_ms") / 1000 / n,
        f"{name}.shuffle_write_bytes": H.span_sum(spans, "shuffle_write_bytes") / n,
        f"{name}.spill_bytes": H.span_sum(spans, "spill_bytes") / n,
        f"{name}.jobs": H.span_sum(spans, "jobs") / n,
        f"{name}.first_s": H.span_ms(spans)[0] / 1000,
    }


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# The timed rotation. match_query_packed runs as a traced-run probe
# instead: one packed query costs about as much as the other seven together
# on this host, so in the rotation it would set most of the window's time.
QUERY_CLASSES = ["match_or", "match_and", "bool_must_not", "phrase", "wildcard", "qs_lang", "count"]
PACKED_PROBE = 2  # packed queries per traced run; the first is cold
_QS_RESERVED = {"and", "or", "not", "to"}
ZIPF_S = 1.07  # the generator's token-rank exponent (corpus._generate_rows)


def query_stream(seed: int, dictionary, doc_tokens, n: int, langs, classes=QUERY_CLASSES) -> list:
    """Seeded (class, args) queries over the index's own dictionary.

    The head band is the generator's own head vocabulary,
    ``corpus.HEAD_TOKENS`` in its rank order (df close to N); the tail is
    every other term of the dictionary, ranked by df. Within its band a
    term is drawn with the generator's Zipf weight, 1/rank^ZIPF_S, so
    terms repeat. Every multi-term query pairs one head term with tail terms
    (assumed): hot-term and long-tail postings both take part, and a
    query's cost does not hinge on how many head terms the seed happened
    to draw. Wildcards take the 3-letter prefix of a tail word; phrases
    are adjacent token pairs of a random doc."""
    rng = np.random.default_rng(seed * 7919 + 17)

    def zipf(words):
        cum = np.cumsum(1.0 / np.arange(1, len(words) + 1) ** ZIPF_S)
        return lambda: words[int(np.searchsorted(cum, rng.random() * cum[-1], side="right"))]

    terms = [t for t, _ in sorted(dictionary, key=lambda x: (-x[1], x[0])) if t not in HEAD_TOKENS]
    head, tail = zipf(HEAD_TOKENS), zipf(terms)
    word = zipf([t for t in terms if t.isalpha() and len(t) >= 3 and t not in _QS_RESERVED])
    out = []
    for i in range(n):
        # classes in a fixed rotation with equal shares (assumed), so every
        # window sees the same mix and every class the same sample count
        cls = classes[i % len(classes)]
        if cls == "phrase":
            toks = doc_tokens[rng.integers(len(doc_tokens))]
            p = int(rng.integers(len(toks) - 1))
            out.append((cls, (toks[p], toks[p + 1])))
        elif cls == "wildcard":
            out.append((cls, (word()[:3] + "*",)))
        elif cls == "qs_lang":
            out.append((cls, (word(), langs[rng.integers(len(langs))])))
        elif cls == "bool_must_not":
            out.append((cls, (head(), tail(), tail())))
        else:
            out.append((cls, (head(), tail())))
    return out


class SearchTarget:
    """An opened serving index and the engine call for each query class."""

    def __init__(self, spark, path: str):
        from elasticsearch_assets_spark.indexing.build import read_index
        from elasticsearch_assets_spark.query.planner import PlannerConfig, QueryPlanner

        self.spark, self.path = spark, path
        self.index = ix = read_index(spark, path)
        self.planner = QueryPlanner(ix, config=PlannerConfig(default_field="content", text_fields=("content",)))
        self.packed = None  # set by open_packed

    def open_packed(self) -> None:
        """Pack the index's blocks next to it and open them: the packed
        probe's set-up, which only traced runs need."""
        from elasticsearch_assets_spark.indexing.blockpack import pack_and_write_blocks, read_blocks
        from elasticsearch_assets_spark.query.wand import PackedIndex

        ix = self.index
        pack_and_write_blocks(ix, self.path)
        self.packed = PackedIndex(read_blocks(self.spark, self.path), ix.terms, ix.n_docs, ix.avg_dl, ix.n_buckets)

    def plan(self, cls: str, args):
        """The DataFrame for one query, or for ``count`` a thunk."""
        from elasticsearch_assets_spark.query import exec as qx
        from elasticsearch_assets_spark.query.wand import match_query_packed

        ix, text = self.index, " ".join(args)
        if cls == "match_or":
            return qx.match_query(ix, text, k=K)
        if cls == "match_and":
            return qx.match_query(ix, text, k=K, operator="and")
        if cls == "bool_must_not":
            return qx.bool_query(ix, must=[args[0]], should=[args[1]], must_not=[args[2]], k=K)
        if cls == "phrase":
            return qx.phrase_query(ix, text, k=K)
        if cls == "wildcard":
            return qx.wildcard_query(ix, args[0], k=K)
        if cls == "qs_lang":
            return self.planner.query_string(f"{args[0]} AND lang:{args[1]}", k=K)
        if cls == "count":
            return lambda: qx.term_filter_count(ix, list(args))
        if cls == "packed":
            return match_query_packed(self.packed, text, k=K)
        raise ValueError(cls)


def run_query(tr: H.Tracer, plan, request):
    """Plan, then execute one query: ``plan()`` returns a DataFrame (its
    rows are returned) or a thunk (its value is returned)."""
    with tr.span("query", request=request):
        with tr.span("query.plan"):
            q = plan()
        with tr.span("query.exec"):
            if callable(q):
                return q()
            return [(r["doc_id"], r["score"]) for r in q.collect()]


def oracle_answer(oracle, lang_of: dict, cls: str, args):
    """What OracleIndex says the engine must return for one query."""
    if cls == "count":
        return len(set(oracle.tf.get(args[0], {})) | set(oracle.tf.get(args[1], {})))
    text = " ".join(args)
    if cls in ("match_or", "packed"):
        rows = oracle.match(text, k=K)
    elif cls == "match_and":
        rows = oracle.match(text, k=K, operator="and")
    elif cls == "bool_must_not":
        rows = oracle.bool_query(must=[args[0]], should=[args[1]], must_not=[args[2]], k=K)
    elif cls == "phrase":
        rows = oracle.phrase(text, k=K)
    elif cls == "wildcard":
        hit = set()
        for t, per in oracle.tf.items():
            if fnmatch.fnmatchcase(t, args[0]):
                hit.update(per)
        rows = [(d, 1.0) for d in sorted(hit)[:K]]
    elif cls == "qs_lang":
        # the keyword clause is a filter scoring a constant 1.0
        scored = oracle.score_terms([args[0]])
        rows = sorted(
            ((d, s + 1.0) for d, (s, _n) in scored.items() if lang_of[d] == args[1]),
            key=lambda x: (-x[1], x[0]),
        )[:K]
    else:
        raise ValueError(cls)
    return _canon(rows)


def query_layer(tr: H.Tracer, classes: dict | None = None) -> dict:
    """query.* figures over the traced timed queries; with ``classes``
    (request id -> query class) also the median per class."""
    tops = tr.select("query")
    plans, execs = tr.select("query.plan"), tr.select("query.exec")
    n = max(1, len(tops))
    out = {
        "query.plan_ms": H.median(H.span_ms(plans)),
        "query.plan_jobs": H.span_sum(plans, "jobs") / n,
        "query.exec_ms": H.median(H.span_ms(execs)),
        "query.exec_task_cpu_ms": H.span_sum(execs, "task_cpu_ms") / n,
        "query.exec_shuffle_bytes": H.span_sum(execs, "shuffle_write_bytes") / n,
        "query.exec_input_rows": H.span_sum(execs, "input_rows") / n,
        # share of queries whose planning went to the cluster: a df
        # lookup the driver-side dictionary cache could not answer
        "query.dict_lookup_ratio": sum(1 for s in plans if s["spark"]["jobs"]) / n,
    }
    if classes:
        per_cls: dict[str, list] = {}
        for s in tops:
            per_cls.setdefault(classes[s["request"]], []).append((s["end"] - s["start"]) * 1000)
        for cls, v in per_cls.items():
            out[f"query.{cls}.p50_ms"] = H.median(v)
    return out


# ---------------------------------------------------------------------------
# search_zipf
# ---------------------------------------------------------------------------


def search_zipf(ctx: Ctx) -> Result:
    from elasticsearch_assets_spark.functions.analyzer import analyze_text
    from elasticsearch_assets_spark.indexing.build import build_index, write_index
    from elasticsearch_assets_spark.query import exec as qx
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    spark, tr = ctx.spark, ctx.tracer
    corpus_path = os.path.join(ctx.work, "corpus")
    idx_path = os.path.join(ctx.work, "idx_serving")
    state = {}

    def setup():
        """Corpus to a persisted serving index (postings, positions),
        opened for queries."""
        with tr.span("corpus.generate"):
            state["corpus"], state["rows"], state["planted"] = make_corpus(
                ctx, N_SEARCH, corpus_path, PLANTED_SHARE
            )
        with tr.span("indexing.build_pos"):
            ix = build_index(state["corpus"], n_buckets=BUCKETS, keep_positions=True, source_cols=("lang",))
            write_index(ix, H.fresh_dir(idx_path))
        ix.unpersist()
        with tr.span("index.open"):
            return SearchTarget(spark, idx_path)

    # one set-up per run: the first build in a fresh JVM is most of a
    # run's time, and the runner's time budget leaves no room for a second
    t = time.perf_counter()
    target = setup()
    setup_s = time.perf_counter() - t

    rows = state["rows"]
    ids = doc_ids(spark, rows)
    texts = {d: r["content"] for d, r in zip(ids, rows)}
    oracle = OracleIndex(texts)
    lang_of = {d: r["lang"] for d, r in zip(ids, rows)}
    doc_tokens = [analyze_text(r["content"]) for r in rows[:500]]
    dictionary = [(r["term"], r["df"]) for r in target.index.terms.collect()]
    stream = query_stream(ctx.seed, dictionary, doc_tokens, 2000, sorted(set(lang_of.values())))
    answers: list = []

    def one(i):
        cls, args = stream[i]
        answers.append((i, run_query(tr, lambda: target.plan(cls, args), i)))

    tr.phase = "warmup"
    # A long-running searcher's df cache holds every term it was asked
    # for, and this dictionary fits the cache whole: load it once, so no
    # timed query pays a dictionary lookup job and the seed no longer
    # sets how many do (upsert_refresh is the cold-cache workload)
    t = time.perf_counter()
    with tr.span("query.df_prefill"):
        qx.term_dfs(target.index, [term for term, _df in dictionary])
    prefill_s = time.perf_counter() - t
    warm = H.warm_up(one, WARM_ROTATIONS * len(QUERY_CLASSES))
    tr.phase = "timed"
    # traced and untraced queries alternate; the rotation's length is odd,
    # so over two rotations every class is traced once
    loop = H.Loop(tr)
    # whole rotations only, so every run's median is over the same class
    # mix, and at least three; a traced run needs two for every class to
    # be traced once
    rotation = len(QUERY_CLASSES) * (2 if tr.enabled else 1)
    loop.run(ctx.seconds, lambda i: one(warm["ops"] + i), min_ops=3 * len(QUERY_CLASSES), multiple=rotation)

    tr.phase = "gate"
    packed_ms = []
    if tr.enabled:
        with tr.span("indexing.pack_blocks"):
            target.open_packed()
        packed = query_stream(ctx.seed + 1, dictionary, doc_tokens, PACKED_PROBE, [], classes=["packed"])
        for cls, args in packed:
            t = time.perf_counter()
            answers.append(((cls, args), run_query(tr, lambda: target.plan(cls, args), "packed")))
            packed_ms.append((time.perf_counter() - t) * 1000)
    problems = []
    for i, got in answers:
        cls, args = stream[i] if isinstance(i, int) else i
        want = oracle_answer(oracle, lang_of, cls, args)
        if (got if cls == "count" else _canon(got)) != want:
            problems.append(f"{cls}{args}: engine {got!r:.200} != oracle {want!r:.200}")
    lat_ms = [x * 1000 for x in loop.latencies]
    q = H.tail_percentile(len(lat_ms))
    detail = {
        "query_p50_ms": (H.median(lat_ms), "ms"),
        "query_qps": (len(lat_ms) / loop.wall, "1/s"),
    }
    if q:
        detail[f"query_p{q}_ms"] = (H.percentile(lat_ms, q), "ms")
    notes = {
        "docs": len(rows),
        "queries_timed": len(lat_ms),
        "tail_percentile": q or "none: fewer than 50 timed queries",
        "query_p95_ms": "reported" if q == 95 else "needs >= 200 timed queries",
        "warmup_queries": warm["ops"],
        "warmup_s": warm["seconds"],
        "df_prefill_terms": len(dictionary),
        "df_prefill_s": prefill_s,
        "queries_checked": len(answers),
        "timed_ms_by_class": {
            c: [round(x, 1) for j, x in enumerate(lat_ms) if stream[warm["ops"] + j][0] == c] for c in QUERY_CLASSES
        },
    }
    layers = None
    if tr.enabled:
        probes = layer_probes(ctx, state["corpus"])
        by_id = spark.read.parquet(corpus_path).selectExpr("xxhash64(repo, path, commit) AS id", "content")
        dedup_layer, dedup_problems, dedup_notes = dedup_probe(
            ctx, by_id, texts, [(ids[a], ids[b]) for a, b in state["planted"]]
        )
        problems.extend(dedup_problems)
        notes.update(dedup_notes)
        classes = {i: stream[i][0] for i in range(len(stream))}

        def layers():
            out = {**probes, **dedup_layer}
            out.update(build_layer("indexing.build_pos", tr.select("indexing.build_pos", phase="setup")))
            packs = tr.select("indexing.pack_blocks", phase="gate")
            out["indexing.pack_blocks_s"] = H.median(H.span_ms(packs)) / 1000
            out.update(query_layer(tr, classes))
            out["query.packed.p50_ms"] = H.median(packed_ms[1:])
            return out

    return Result(setup_s, loop, problems, detail, notes, layers, absent=("manifest.",))


# ---------------------------------------------------------------------------
# upsert_refresh
# ---------------------------------------------------------------------------


def upsert_refresh(ctx: Ctx) -> Result:
    import pandas as pd

    from elasticsearch_assets_spark.functions.analyzer import analyze_text
    from elasticsearch_assets_spark.plans import manifest as mf
    from elasticsearch_assets_spark.query import exec as qx
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    spark, tr = ctx.spark, ctx.tracer
    seg_path = os.path.join(ctx.work, "idx_segments")
    n_pool = MAX_COMMITS * (UPSERT_ADDS + UPSERT_UPDATES)

    # rows [0, N) are the base corpus; later rows supply the new docs and
    # the new contents of rewritten ones
    base, rows, _ = make_corpus(ctx, N_UPSERT + n_pool, os.path.join(ctx.work, "corpus"))
    base = base.where(f"int(regexp_extract(path, '_([0-9]+)[.]', 1)) < {N_UPSERT}")
    ids = doc_ids(spark, rows)

    def setup():
        with tr.span("manifest.build"):
            mf.build_index_resumable(
                base, H.fresh_dir(seg_path), n_parts=BASE_PARTS, n_buckets=BUCKETS, keep_positions=True
            )

    t = time.perf_counter()
    setup()  # once per run, as in search_zipf
    setup_s = time.perf_counter() - t

    # Every commit is prepared before the clock starts: its input rows,
    # the terms it queries and, from a replay of the live doc set, the
    # doc ids its query must return.
    rng = np.random.default_rng(ctx.seed * 31 + 5)
    live = {ids[i]: rows[i]["content"] for i in range(N_UPSERT)}
    toks = {d: set(analyze_text(c)) for d, c in live.items()}
    row_of = {ids[i]: i for i in range(N_UPSERT)}
    dead = [int(d) for d in rng.choice(sorted(live), UPSERT_DELETES, replace=False)]
    base_bytes = sum(len(c.encode()) for c in live.values())

    def rare(words, exclude=()):
        """The largest number token: a doc's own uniq_<i> suffix."""
        digits = [t for t in words if t.isdigit() and t not in exclude]
        return max(digits, key=int) if digits else None

    commits = []
    nxt = N_UPSERT
    for b in range(MAX_COMMITS):
        changes = {}  # doc_id -> (row index of its ids, new content)
        for d in rng.choice(sorted(set(live) - set(dead)), UPSERT_UPDATES, replace=False):
            changes[int(d)] = (row_of[int(d)], rows[nxt]["content"])
            nxt += 1
        for _ in range(UPSERT_ADDS):
            row_of[ids[nxt]] = nxt
            changes[ids[nxt]] = (nxt, rows[nxt]["content"])
            nxt += 1
        new_toks = {d: set(analyze_text(c)) for d, (_i, c) in changes.items()}
        first, last = next(iter(changes)), list(changes)[-1]
        # a term only the superseded copy carried, one the newest doc
        # brings and, at commit 0, one only a deleted doc carried
        terms = [rare(toks[first], new_toks[first]), rare(new_toks[last])]
        if b == 0:
            terms.append(rare(toks[dead[0]]))
            for d in dead:
                del live[d], toks[d]
        for d, (_i, c) in changes.items():
            live[d], toks[d] = c, new_toks[d]
        expect = {t: {d for d, ts in toks.items() if t in ts} for t in terms if t}
        batch = pd.DataFrame([dict(rows[i], content=c) for i, c in changes.values()])
        commits.append((batch, expect, {d: c for d, (_i, c) in changes.items()}))

    served, upsert_s, refresh_s, delete_s = [], [], [], []

    def query(ix, terms, request):
        """One OR query over the commit's selective terms: every live doc
        holding any of them, each once."""
        return run_query(tr, lambda: qx.match_query(ix, " ".join(terms), k=1000), request)

    def commit(b: int):
        """One client commit: hand the batch to Spark, upsert it, reopen,
        query."""
        batch, expect, _changes = commits[b]
        if b == 0:
            t = time.perf_counter()
            with tr.span("manifest.delete", request=b):
                mf.delete_docs(spark, seg_path, dead)
            delete_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("manifest.ingest", request=b):
            # batch ids start above the base build's segment ids
            mf.upsert_segment_batch(
                spark.createDataFrame(batch), seg_path, batch_id=BASE_PARTS + b, n_parts=1, n_buckets=BUCKETS, keep_positions=True
            )
        t1 = time.perf_counter()
        upsert_s.append(t1 - t)
        with tr.span("manifest.reopen", request=b):
            ix = mf.serve_resumable_index(spark, seg_path)
        served.append(query(ix, list(expect), b))
        refresh_s.append(time.perf_counter() - t1)

    tr.phase = "warmup"
    warm = H.warm_up(commit, WARM_COMMITS)
    n_warm = warm["ops"]
    tr.phase = "timed"
    loop = H.Loop(tr)
    # at least three commits, so the median is not the mean of two
    loop.run(ctx.seconds, lambda i: commit(n_warm + i), min_ops=3, max_ops=MAX_COMMITS - n_warm)
    n_commits = len(served)
    timed = range(n_warm, n_commits)

    tr.phase = "gate"
    problems = []

    def check(terms, got, want, when):
        got_ids = [int(d) for d, _ in got]
        if len(got_ids) != len(set(got_ids)) or set(got_ids) != want:
            problems.append(f"{when} {terms}: engine {sorted(got_ids)[:8]} != live {sorted(want)[:8]}")

    for b, got in enumerate(served):
        expect = commits[b][1]
        check(list(expect), got, set().union(*expect.values()), f"commit {b}")

    live_segments = len(mf.done_parts(spark, seg_path))
    before = H.dir_bytes(seg_path)
    t = time.perf_counter()
    with tr.span("manifest.compact"):
        mf.compact_segments(
            spark,
            seg_path,
            sorted(mf.done_parts(spark, seg_path)),
            new_part=mf.next_compact_id(spark, seg_path),
            purge_deletes=True,
        )
    compact_s = time.perf_counter() - t
    rewritten = H.dir_bytes(seg_path) - before

    # after a purging merge the served statistics count live docs only,
    # so top-k must equal the oracle over the live set, scores included
    final = {ids[i]: rows[i]["content"] for i in range(N_UPSERT) if ids[i] not in set(dead)}
    for b in range(n_commits):
        final.update(commits[b][2])
    ix = mf.serve_resumable_index(spark, seg_path)
    oracle = OracleIndex(final)
    qrng = np.random.default_rng(ctx.seed + 99)
    vocab = sorted(oracle.tf)
    for _ in range(3):
        text = " ".join(vocab[i] for i in qrng.choice(len(vocab), 2, replace=False))
        got = _canon(run_query(tr, lambda: qx.match_query(ix, text, k=K), "gate"))
        if got != _canon(oracle.match(text, k=K)):
            problems.append(f"after purge {text!r}: engine {got[:3]} != oracle")
    terms = list(commits[n_commits - 1][1])
    want = set().union(*(oracle.tf.get(term, {}) for term in terms))
    check(terms, query(ix, terms, "gate"), want, "after purge")

    docs_per_commit = UPSERT_UPDATES + UPSERT_ADDS
    detail = {
        "upsert_docs_per_s": (docs_per_commit * len(timed) / sum(upsert_s[b] for b in timed), "docs/s"),
        "refresh_p50_ms": (H.median([refresh_s[b] for b in timed]) * 1000, "ms"),
        "compact_s": (compact_s, "s"),
    }
    notes = {
        "base_docs": N_UPSERT,
        "docs_per_commit": docs_per_commit,
        "commits": n_commits,
        "commits_timed": len(timed),
        "commit_ms": [round(x * 1000) for x in loop.latencies],
        "warmup_commits": n_warm,
        "warmup_s": warm["seconds"],
        "live_segments_before_compaction": live_segments,
    }
    layers = None
    if tr.enabled:
        probes = layer_probes(ctx, base)
        probes.update(
            {
                "manifest.delete_s": H.median(delete_s),
                "manifest.ingest_s": H.median([upsert_s[b] for b in timed]),
                "manifest.live_segments": live_segments,
                "manifest.compact_bytes_rewritten": rewritten,
                # nothing is removed from disk, so its size is what was written
                "manifest.write_amp": H.dir_bytes(seg_path)
                / (base_bytes + sum(len(c.encode()) for b in range(n_commits) for c in commits[b][2].values())),
            }
        )

        def layers():
            reopen = tr.select("manifest.reopen")
            out = {
                **probes,
                "manifest.reopen_ms": H.median(H.span_ms(reopen)),
                "manifest.reopen_jobs": H.span_sum(reopen, "jobs") / max(1, len(reopen)),
            }
            out.update(query_layer(tr))
            return out

    # no dedup, no positions build of its own span, one query class
    absent = ("dedup.", "indexing.build_pos.", "indexing.pack_blocks_s") + tuple(
        f"query.{c}.p50_ms" for c in QUERY_CLASSES + ["packed"]
    )
    return Result(setup_s, loop, problems, detail, notes, layers, absent)


# ---------------------------------------------------------------------------
# batch_build and near_dup (by name only; see the module docstring)
# ---------------------------------------------------------------------------


def batch_build(ctx: Ctx) -> Result:
    """Rounds of the Arrow build (build_and_write_index) and the JVM
    positions build (build_index + write_index) over one corpus."""
    from elasticsearch_assets_spark.indexing.build import (
        build_and_write_index,
        build_index,
        read_index,
        write_index,
    )
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    spark, tr = ctx.spark, ctx.tracer
    arrow_path = os.path.join(ctx.work, "idx_arrow")
    pos_path = os.path.join(ctx.work, "idx_pos")
    setup, (corpus, rows, _) = _repeat(3, lambda: make_corpus(ctx, N_BUILD, os.path.join(ctx.work, "corpus")))
    arrow_s, pos_s = [], []

    def round_(_i=0):
        t = time.perf_counter()
        with tr.span("indexing.build"):
            build_and_write_index(corpus, H.fresh_dir(arrow_path), n_buckets=BUCKETS)
        arrow_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("indexing.build_pos"):
            ix = build_index(corpus, n_buckets=BUCKETS, keep_positions=True)
            write_index(ix, H.fresh_dir(pos_path))
            ix.unpersist()
        pos_s.append(time.perf_counter() - t)

    tr.phase = "warmup"
    warm = H.warm_up(round_, 2)
    tr.phase = "timed"
    loop = H.Loop(tr)
    loop.run(ctx.seconds, round_)

    # the two build cores agree row for row, and with the oracle on a
    # seeded sample of docs
    tr.phase = "gate"
    problems = []
    cols = ["term", "doc_id", "tf", "dl"]
    a_rows = set(map(tuple, read_index(spark, arrow_path).postings.select(*cols).collect()))
    p_rows = set(map(tuple, read_index(spark, pos_path).postings.select(*cols).collect()))
    if a_rows != p_rows:
        problems.append(f"build paths differ on {len(a_rows ^ p_rows)} rows")
    ids = doc_ids(spark, rows)
    pick = np.random.default_rng(ctx.seed).choice(len(rows), 50, replace=False)
    oracle = OracleIndex({ids[i]: rows[i]["content"] for i in pick})
    want = {(t, d, tf, oracle.dl[d]) for t, per in oracle.tf.items() for d, tf in per.items()}
    got = {r for r in a_rows if r[1] in oracle.dl}
    if got != want:
        problems.append(f"tf/dl differ from the oracle on {len(got ^ want)} sampled rows")
    timed = slice(warm["ops"], None)
    detail = {
        "build_docs_per_s": (N_BUILD / H.median(arrow_s[timed]), "docs/s"),
        "build_pos_docs_per_s": (N_BUILD / H.median(pos_s[timed]), "docs/s"),
        "index_bytes_ratio": (H.dir_bytes(arrow_path) / sum(len(r["content"].encode()) for r in rows), "ratio"),
    }
    notes = {"docs": N_BUILD, "rounds_timed": len(loop.latencies), "warmup_rounds": warm["ops"],
             "warmup_s": warm["seconds"]}
    layers = None
    if tr.enabled:
        probes = layer_probes(ctx, corpus)

        def layers():
            out = dict(probes)
            out.update(build_layer("indexing.build", tr.select("indexing.build", phase=None)))
            out.update(build_layer("indexing.build_pos", tr.select("indexing.build_pos", phase=None)))
            return out

    absent = ("query.", "manifest.", "dedup.", "indexing.pack_blocks_s")
    return Result(H.median(setup), loop, problems, detail, notes, layers, absent)


def near_dup(ctx: Ctx) -> Result:
    """Repeated jaccard_pairs_verified over a corpus with planted copies."""
    from elasticsearch_assets_spark.operators import dedup
    from elasticsearch_assets_spark.operators.caps import drop_observation

    spark, tr = ctx.spark, ctx.tracer
    path = os.path.join(ctx.work, "corpus")
    setup, (df, rows, planted) = _repeat(3, lambda: make_corpus(ctx, N_NEARDUP, path, PLANTED_SHARE))
    df = df.selectExpr("xxhash64(repo, path, commit) AS id", "content")
    ids = doc_ids(spark, rows)
    results = []

    def call(_i=0):
        with tr.span("dedup.jaccard_pairs_verified"):
            results.append(
                dedup.jaccard_pairs_verified(
                    df, "content", "id", threshold=JACCARD, drop_obs=drop_observation()
                ).collect()
            )

    tr.phase = "warmup"
    warm = H.warm_up(call, 2)
    tr.phase = "timed"
    loop = H.Loop(tr)
    loop.run(ctx.seconds, call)

    tr.phase = "gate"
    texts = {d: r["content"] for d, r in zip(ids, rows)}
    problems, recall = check_pairs(results[-1], texts, [(ids[a], ids[b]) for a, b in planted])
    counts = sorted({len(r) for r in results})
    if len(counts) != 1:
        problems.append(f"pair count varies between calls: {counts}")
    detail = {"neardup_docs_per_s": (len(rows) / H.median(loop.latencies), "docs/s")}
    notes = {"docs": len(rows), "planted_copies": len(planted), "pairs": counts[0], "planted_recall": recall,
             "calls_timed": len(loop.latencies), "warmup_calls": warm["ops"], "warmup_s": warm["seconds"]}
    layers = None
    if tr.enabled:
        probes = layer_probes(ctx, df)
        dedup_layer, more, _ = dedup_probe(ctx, df, texts, [(ids[a], ids[b]) for a, b in planted])
        problems.extend(more)

        def layers():
            return {**probes, **dedup_layer}

    absent = ("query.", "manifest.", "indexing.build_pos.", "indexing.pack_blocks_s")
    return Result(H.median(setup), loop, problems, detail, notes, layers, absent)


WORKLOADS = {
    "search_zipf": search_zipf,
    "upsert_refresh": upsert_refresh,
    "batch_build": batch_build,
    "near_dup": near_dup,
}
