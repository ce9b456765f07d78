"""Inverted-index construction as a declarative DataFrame plan.

Replaces the reference's delegated "Layer B" index (SURVEY.md §2.6): the
Elasticsearch/Lucene inverted index is re-expressed as Spark tables
persisted as parquet (Iceberg-style layout):

  postings/   (term, doc_id, tf, dl[, positions])  partitioned by bucket;
              positions (array<int>, tf == size(positions)) only when
              built with keep_positions
  terms/      (term, df)                           the term dictionary
  terms_rev/  (rev, term, df)                      reversed dictionary,
              range-partitioned+sorted by rev — `*suffix` wildcards
              become a pruned prefix scan (Lucene ReverseStringFilter)
  doc_norms/  (doc_id, dl, content_sha, <source>)  doc store + norms
  stats.json  {n_docs, avg_dl, n_buckets}

Design notes for 10^12-file scale:

- doc_id = xxhash64(repo, path, commit): stable across runs and resumes
  (never monotonically_increasing_id — SURVEY.md §7.3).
- Document length (dl) is DENORMALIZED into each posting row, exactly as
  Lucene stores norms with postings — this removes the doc_norms join
  from the query path; scoring needs only the query terms' df.
- postings are hash-partitioned by term bucket (pmod(xxhash64(term), B))
  and written with partitionBy(bucket): a query on T terms prunes to
  ≤ T parquet partitions (directory-level pruning + row-group predicate
  pushdown on term).
- The (term, doc_id) groupBy keys are near-unique per doc so the tf
  aggregation has no skew; the hot-term skew lives in per-term grouping,
  which this layout avoids entirely by keeping postings as rows (blocks
  are packed separately in indexing/blockpack.py with doc_id-range
  chunking so no single task ever owns a whole hot term).
- Positions are a COLUMN of postings, not a second table. Lucene keeps
  them in a separate prox file so scoring never reads them; parquet
  already stores every column apart, so a scoring scan that prunes the
  column has the same property with one write, one read and one
  tombstone anti-join.
- Two build paths: build_index (the serving build, positions optional)
  runs JVM built-ins only — tokenize/posexplode/groupBy, whole-stage
  codegen; build_and_write_index (tf only) runs the analyzer and per-doc
  tf in one pyarrow mapInArrow stage (indexing/arrowtf.py).
- One writer: every bucket-partitioned table (postings here, packed
  blocks in indexing/blockpack.py) is written by _write_bucketed, and
  both batch writers (write_index, build_and_write_index) end in the
  one _write_tail: the dictionary aggregation persisted once, then
  terms/ followed by terms_rev/ on one thread while doc_norms/ writes
  on another, then stats.json.

Reference parity anchors:
- record-with-_key model: asset/src/elasticsearch_bulk docs; metadata
  `_key` becomes the explicit doc_id column (SURVEY.md §1.5).
- per-row invariant: sha256(content) column for ingested-vs-indexed
  equality (BASELINE.json input_hint).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_assets_spark.functions.analyzer import analyze_col

DEFAULT_BUCKETS = 64


class _BuiltOnFirstRead:
    """A DataFrame field that also takes a zero-argument builder, called
    on the field's first read and kept."""

    def __set_name__(self, owner, name):
        self.key = "_" + name

    def __get__(self, obj, owner=None):
        if obj is None:
            raise AttributeError(self.key)  # a dataclass field with no default
        value = obj.__dict__[self.key]
        if callable(value):
            value = obj.__dict__[self.key] = value()
        return value

    def __set__(self, obj, value):
        obj.__dict__[self.key] = value


@dataclass
class IndexTables:
    # term, doc_id, tf, dl, bucket — plus positions (array<int>) when the
    # index was built with keep_positions. Only phrase queries select
    # that column; every scoring scan prunes it, so parquet never reads
    # the arrays (Lucene's separate prox file, as one columnar table).
    postings: DataFrame
    # term, df and doc_id, dl (+ content_sha and source cols). A served
    # segment index passes builders: only multi-term expansion (wildcard,
    # fuzzy) reads the whole dictionary, and only the planner's filters
    # and negations read doc_norms, so a reopen builds neither frame
    terms: DataFrame = _BuiltOnFirstRead()
    doc_norms: DataFrame = _BuiltOnFirstRead()
    n_docs: int
    avg_dl: float
    n_buckets: int = DEFAULT_BUCKETS
    # reversed-term dictionary (rev = reverse(term)) — Lucene's
    # ReverseStringFilter trick: `*suffix` wildcards become a PREFIX
    # range scan on rev (rows-skipped via parquet min/max) instead of a
    # full-dictionary endswith decode at 10^9 terms. On disk it is
    # range-partitioned by rev so the scan prunes to 1-2 files.
    terms_rev: DataFrame | None = None  # rev, term, df
    _cached: tuple = ()
    # driver-side dictionary cache: term -> df (0 = known-absent).
    # Lucene keeps the terms dictionary in memory for exactly this
    # reason — query planning needs df without a cluster job. Filled
    # lazily by query.exec.term_dfs with only the QUERIED terms
    # (bounded there), so it never materializes the full dictionary.
    _df_cache: dict = field(default_factory=dict)
    # driver-side df source (a served segment index: the sum of its
    # segments' dictionaries): terms -> {term: df} for the present ones.
    # With it, term_dfs runs no Spark job and leaves _df_cache empty.
    df_lookup: Callable[[list[str]], dict[str, int]] | None = None

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()


def with_doc_id(
    docs: DataFrame,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    text_col: str = "content",
) -> DataFrame:
    """Attach stable doc_id + content sha256 (the per-row invariant)."""
    return docs.withColumn("doc_id", F.xxhash64(*[F.col(c) for c in id_cols])).withColumn(
        "content_sha", F.sha2(F.col(text_col), 256)
    )


def _keyed(
    docs: DataFrame, text_col: str, id_cols: tuple[str, ...], doc_id_col: str | None
) -> DataFrame:
    """Build prelude: the scan-parallelism guard
    (arrowtf.ensure_scan_parallelism), then doc_id (verbatim from
    ``doc_id_col`` when given, else xxhash64(*id_cols)) and
    content_sha."""
    from elasticsearch_assets_spark.indexing.arrowtf import ensure_scan_parallelism

    docs = ensure_scan_parallelism(docs)
    if doc_id_col is None:
        return with_doc_id(docs, id_cols, text_col)
    return docs.withColumn("doc_id", F.col(doc_id_col).cast("long")).withColumn(
        "content_sha", F.sha2(F.col(text_col), 256)
    )


def posting_rows(
    toks: DataFrame, n_buckets: int, keep_positions: bool
) -> DataFrame:
    """(term, doc_id, tf, dl[, positions], bucket) from per-doc rows that
    carry ``_toks`` (the analyzed tokens) and ``dl``: ONE token-level
    groupBy (keys are near-unique per doc → no skew; partial agg handles
    the Zipf head). With positions, tf = size(positions) derives from
    the same aggregation, so tokens shuffle once either way. dl rides
    every row (Lucene norms-with-postings): scoring, phrase scoring
    included, never joins doc_norms."""
    tokens = toks.select("doc_id", "dl", F.posexplode("_toks").alias("pos", "term"))
    grouped = tokens.groupBy("term", "doc_id")
    if keep_positions:
        rows = grouped.agg(
            F.sort_array(F.collect_list("pos")).alias("positions"),
            F.first("dl").alias("dl"),
        ).select(
            "term",
            "doc_id",
            F.size("positions").cast("int").alias("tf"),
            "dl",
            "positions",
        )
    else:
        rows = grouped.agg(
            F.count("*").cast("int").alias("tf"), F.first("dl").alias("dl")
        )
    return rows.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )


def build_index(
    docs: DataFrame,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    keep_positions: bool = True,
    source_cols: tuple[str, ...] = (),
    cache: bool = True,
) -> IndexTables:
    """Build the inverted index as DataFrames.

    If ``doc_id_col`` is given, it is used verbatim (e.g. the testdata
    ``documents.doc_id``); otherwise doc_id = xxhash64(*id_cols).

    With keep_positions (default) every postings row also carries its
    sorted token positions; tf == size(positions).

    With cache=True (default) the postings frame is persisted
    (MEMORY_AND_DISK): terms/doc_norms/stats all derive from it, so
    without caching every downstream action re-runs the
    tokenize+explode+groupBy chain (~4x the work). At cluster scale,
    where postings may exceed cluster memory, persist() spills to local
    disk per executor — or write postings first and derive the rest
    from the written parquet (the build_and_write_index shape).
    """
    base = _keyed(docs, text_col, id_cols, doc_id_col)

    # dl (doc length) computed MAP-SIDE as size(analyzed tokens): it
    # rides the tf shuffle denormalized into every posting row (Lucene
    # norms-with-postings) with ZERO extra shuffles — the previous
    # doc_id-window cost a full second exchange of the tf table.
    # coalesce(size, 0): size(NULL) is NULL under ANSI Spark 4 — null-
    # text docs must carry dl=0 so the cached doc_norms path matches
    # the postings-derived fallback (which na.fill(0)s) exactly
    toks = base.withColumn("_toks", analyze_col(text_col)).withColumn(
        "dl", F.coalesce(F.size("_toks"), F.lit(0)).cast("int")
    )
    postings = posting_rows(toks, n_buckets, keep_positions)

    cached: tuple = ()
    if cache:
        from pyspark import StorageLevel

        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
        cached = (postings,)

    # doc_norms from the CACHED postings (not from toks: that would
    # re-run the analyzer over the whole corpus on every doc_norms action)
    dl = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    keep = ["doc_id", "dl", "content_sha", *source_cols]
    doc_norms = base.join(dl, "doc_id", "left").na.fill({"dl": 0}).select(*keep)

    terms = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))

    agg = doc_norms.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avg_dl")
    ).collect()[0]

    return IndexTables(
        postings=postings,
        terms=terms,
        doc_norms=doc_norms,
        n_docs=int(agg["n"]),
        avg_dl=float(agg["avg_dl"] or 0.0),
        n_buckets=n_buckets,
        terms_rev=terms_rev_frame(terms),
        _cached=cached,
    )


# A bucketed table shuffles into n_buckets * WRITE_FANOUT partitions
# keyed (bucket, sub-hash(term)) before the partitionBy(bucket) write.
# Why not plain repartition(n_buckets, "bucket"): (a) 32 keys hashed
# into 32 partitions collide (Poisson: ~1/e partitions empty, others
# carry 2-3 buckets), and (b) bucket sizes are skewed ~2.6x by the Zipf
# term mass, so the one hot bucket gates the whole write stage. The
# sub-key is a DIFFERENT hash of term (seeded by a literal — pmod of
# the same xxhash64 would be fully determined by the bucket and split
# nothing), so each bucket splits into WRITE_FANOUT term-disjoint
# chunks: measured 1.9x faster and run-to-run stable at 5x bench scale.
# Each chunk keeps whole terms and stays (term, doc_id)-sorted, so
# per-file row-group pruning and sequential posting reads are
# unchanged; a bucket directory just holds WRITE_FANOUT files instead
# of one. 8 (r7, was 4): with the single-shuffle arrow build the
# sort+write stage became straggler-bound (task_max 2.6 s vs 0.3 s
# mean at 240k); fanout 8 halved the stage wall (3.1 -> 1.9 s,
# task_max 1.4 s) while fanout 16 gained nothing further and doubles
# the file count.
WRITE_FANOUT = 8

# Parquet row-group size for index tables. Default 128MB row groups make
# a bucket file ONE unsplittable scan unit (parquet can't split below
# row-group granularity) — a single-term postings scan then
# caps at #files map tasks regardless of cores. 8MB row groups restore
# scan parallelism (measured: dense-phrase positions join 2.07s -> 1.42s
# at 1.2M docs) AND sharpen per-row-group term min/max pruning; the
# footer-metadata overhead is negligible at these schema widths.
ROW_GROUP_BYTES = 8 * 1024 * 1024


def _write_bucketed(
    df: DataFrame,
    path: str,
    n_buckets: int,
    sort_cols: tuple[str, ...] = ("term", "doc_id"),
    encode: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """The one writer of a bucket-partitioned table (postings, packed
    blocks): the fanout shuffle above, a sort within each partition,
    ROW_GROUP_BYTES row groups, partitionBy(bucket).

    ``encode`` maps the sorted partitions to the rows written (block
    packing encodes in place, so pack→write is one shuffle of posting
    rows). Its output is re-sorted within each partition on the sort
    columns it kept — no shuffle — because mapInPandas erases the
    ordering from the plan."""
    sub = F.pmod(
        F.xxhash64(F.lit("fanout"), F.col("term")), F.lit(WRITE_FANOUT)
    ).cast("int")
    rows = df.repartition(n_buckets * WRITE_FANOUT, F.col("bucket"), sub)
    # bucket FIRST: FileFormatWriter requires task rows ordered by the
    # partition columns and inserts its own sort-by-(bucket) when the
    # ordering doesn't already lead with them — and that inserted sort
    # is NOT stable, silently scrambling the (term, doc_id) order the
    # row-group pruning claim rests on (caught by
    # tests/test_build_paths.py::test_fanout_write_layout_invariants).
    # Leading with bucket satisfies the requirement, so the writer adds
    # nothing and files keep exact (term, doc_id) order per bucket.
    rows = rows.sortWithinPartitions("bucket", *sort_cols)
    if encode is not None:
        rows = encode(rows)
        rows = rows.sortWithinPartitions(
            "bucket", *[c for c in sort_cols if c in rows.columns]
        )
    (
        rows.write.mode("overwrite")
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .partitionBy("bucket")
        .parquet(path)
    )


def terms_rev_frame(terms: DataFrame) -> DataFrame:
    """(rev, term, df) projection of the dictionary — rev = reverse(term).
    A pure column projection: free to derive, only worth PERSISTING
    (write_index does) because the range-partitioned parquet layout
    turns `*suffix` into a pruned prefix scan (Lucene reversed-field)."""
    return terms.select(F.reverse(F.col("term")).alias("rev"), "term", "df")


def write_terms_rev(terms: DataFrame, path: str) -> None:
    """Persist the reversed-term dictionary range-partitioned and sorted
    by rev: a `*suffix` query scans rev in [rev(suffix), rev(suffix)+MAX)
    — file pruning via the range layout, row-group pruning via parquet
    min/max on the sorted column."""
    (
        terms_rev_frame(terms)
        .repartitionByRange(8, "rev")
        .sortWithinPartitions("rev")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "terms_rev"))
    )


def _write_tail(
    path: str,
    terms: DataFrame,
    doc_norms: DataFrame,
    n_buckets: int,
    stats: tuple[int, float] | None = None,
) -> None:
    """What every written index ends in: terms/, terms_rev/, doc_norms/
    and stats.json.

    The dictionary aggregation is persisted ONCE and feeds both
    dictionary writes, chained on one thread so the first materializes
    the cache and the second reads it (started together, each would
    compute the aggregation in a job of its own); doc_norms/ writes
    CONCURRENTLY with them: the serial tail is pure Amdahl loss — it
    costs the same wall time at every cluster size and so caps scaling
    efficiency. ``stats`` is the
    (n_docs, avg_dl) the caller already knows; without it both ride the
    doc_norms WRITE as an Observation (query-metric accumulators), so
    no job of its own computes them."""
    from pyspark import inheritable_thread_target
    from pyspark.sql import Observation

    obs = Observation("index_stats")
    # coalesce(32): 192 scan-split tasks each wrote a ~100 KB file —
    # small-files on every downstream doc_norms scan (guide §6)
    norms = doc_norms.coalesce(32)
    if stats is None:
        norms = norms.observe(
            obs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avg_dl")
        )
    # a dictionary the caller persisted stays persisted
    owned = not terms.is_cached
    terms.persist()

    def dictionaries():
        terms.coalesce(8).write.mode("overwrite").parquet(os.path.join(path, "terms"))
        write_terms_rev(terms, path)

    writes = (
        dictionaries,
        lambda: norms.write.mode("overwrite").parquet(os.path.join(path, "doc_norms")),
    )
    try:
        with ThreadPoolExecutor(len(writes)) as pool:
            # the wrapper hands each thread the caller's job group and tags
            inherit = inheritable_thread_target(terms.sparkSession)
            futures = [pool.submit(inherit(w)) for w in writes]
            for fut in futures:
                fut.result()
    finally:
        if owned:
            terms.unpersist()
    if stats is None:
        stats = (int(obs.get["n"]), float(obs.get["avg_dl"] or 0.0))
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump(
            {"n_docs": stats[0], "avg_dl": stats[1], "n_buckets": n_buckets}, f
        )


def write_index(tables: IndexTables, path: str) -> None:
    """Persist the index. postings (positions column included, when
    present) partitioned by term bucket so query-time term lookups prune
    to single directories; rows sorted by (term, doc_id) within files
    for row-group min/max pruning and for sequential posting-list
    reads. stats.json carries the handle's n_docs/avg_dl."""
    _write_bucketed(tables.postings, os.path.join(path, "postings"), tables.n_buckets)
    _write_tail(
        path,
        tables.terms,
        tables.doc_norms,
        tables.n_buckets,
        (tables.n_docs, tables.avg_dl),
    )


def build_and_write_index(
    docs: DataFrame,
    path: str,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    source_cols: tuple[str, ...] = (),
) -> IndexTables:
    """Single-pass build-to-disk: the heavy tokenize→tf→dl pipeline runs
    ONCE, writing postings directly; terms / doc_norms / stats then
    derive from the encoded doc projection (doc_id, content_sha,
    sources, dl, terms, tfs) persisted DURING pass 1, so the tail
    re-runs neither the analyzer nor a postings groupBy(doc_id) — that
    groupBy gets no map-side reduction (a doc's terms spread over every
    partition, so partial agg emits ~P copies of each doc row) and
    needs a corpus re-scan with a second sha256 pass. MEMORY_AND_DISK:
    at cluster scale the cache spills to executor-local SSD (cost ≈ one
    extra local write of the tokenized corpus).

    This is the cluster-scale shape (tf may exceed cluster memory; the
    written table IS the checkpoint) and minimizes serial job count —
    the bench path. Returns the same IndexTables as read_index(path).
    """
    from pyspark import StorageLevel

    spark = docs.sparkSession
    base = _keyed(docs, text_col, id_cols, doc_id_col)

    # ONE shuffle for the whole heavy pass (was two, r7):
    # - the analyzer AND per-doc tf run inside a single vectorized
    #   mapInArrow stage (indexing/arrowtf.py — pyarrow RE2 kernels at
    #   ~6.6x the JVM regex throughput, then dictionary-encode + lexsort
    #   run-length tf with no Python per-row work). A doc's tokens never
    #   leave their batch, so per-batch tf is exact and the former
    #   explode + groupBy(term, doc_id) — partial and final hash
    #   aggregation plus the ~400 MB shuffle between them — is gone;
    #   the encoder's combined rows feed the bucket-layout repartition
    #   directly (guide §2.4 "remove shuffles outright", §4.2).
    # - dl (doc length) still rides every posting row (Lucene
    #   norms-with-postings), computed in the same batch pass.
    # - an array-expression RLE (aggregate fold over sort_array) was
    #   measured FIRST and LOST ~2x to the hash aggregate: interpreted
    #   HOF struct-building is slower than codegen partial agg — do not
    #   retry; the win here comes from Arrow, not from the fold.
    from elasticsearch_assets_spark.indexing.arrowtf import tf_encoder

    enc_in = base.select(
        "doc_id", "content_sha", *source_cols, F.col(text_col)
    )
    src_fields = "".join(
        f", {c} {base.schema[c].dataType.simpleString()}" for c in source_cols
    )
    enc = enc_in.mapInArrow(
        tf_encoder(text_col),
        "doc_id bigint, content_sha string"
        + src_fields
        + ", dl int, terms array<string>, tfs array<int>",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tfd = (
        enc.select(
            "doc_id", "dl", F.explode(F.arrays_zip("terms", "tfs")).alias("_p")
        )
        .select(
            F.col("_p.terms").alias("term"),
            "doc_id",
            F.col("_p.tfs").alias("tf"),
            "dl",
        )
        .withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )

    # pass 1 (the only heavy one): postings straight to disk, hot
    # buckets split by the term-sub-hash fanout (see _write_bucketed)
    _write_bucketed(tfd, os.path.join(path, "postings"), n_buckets)

    # the tail scans the cache pass 1 filled: df counts one row per
    # (doc, term) of the exploded terms column — identical to a count
    # of postings rows — and doc_norms is a projection of it
    terms = (
        enc.select(F.explode("terms").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    doc_norms = enc.select("doc_id", "dl", "content_sha", *source_cols)
    _write_tail(path, terms, doc_norms, n_buckets)
    enc.unpersist()
    # the writer knows every table's schema — passing them to the
    # read-back skips one footer schema-inference job per table (4
    # driver-side jobs of pure fixed cost per build, r7)
    return read_index(
        spark,
        path,
        _schemas={
            "postings": "term string, doc_id bigint, tf int, dl int, bucket int",
            "terms": "term string, df bigint",
            "terms_rev": "rev string, term string, df bigint",
            "doc_norms": "doc_id bigint, dl int, content_sha string" + src_fields,
        },
    )


def read_index(
    spark: SparkSession, path: str, _schemas: dict | None = None
) -> IndexTables:
    """Open a written index. Positions are present when the postings
    table has a ``positions`` column. ``_schemas`` (writer-internal)
    supplies known table schemas so the reads skip parquet footer
    inference — semantics are identical; an absent/partial dict falls
    back to inference per table."""
    with open(os.path.join(path, "stats.json")) as f:
        stats = json.load(f)
    sch = _schemas or {}

    def _read(name: str):
        r = spark.read
        if name in sch:
            r = r.schema(sch[name])
        return r.parquet(os.path.join(path, name))

    rev_path = os.path.join(path, "terms_rev")
    terms_rev = _read("terms_rev") if os.path.isdir(rev_path) else None
    return IndexTables(
        postings=_read("postings"),
        terms=_read("terms"),
        doc_norms=_read("doc_norms"),
        n_docs=stats["n_docs"],
        avg_dl=stats["avg_dl"],
        n_buckets=stats["n_buckets"],
        terms_rev=terms_rev,
    )
