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

Reference parity anchors:
- record-with-_key model: asset/src/elasticsearch_bulk docs; metadata
  `_key` becomes the explicit doc_id column (SURVEY.md §1.5).
- per-row invariant: sha256(content) column for ingested-vs-indexed
  equality (BASELINE.json input_hint).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_assets_spark.functions.analyzer import analyze_col

DEFAULT_BUCKETS = 64


@dataclass
class IndexTables:
    # term, doc_id, tf, dl, bucket — plus positions (array<int>) when the
    # index was built with keep_positions. Only phrase queries select
    # that column; every scoring scan prunes it, so parquet never reads
    # the arrays (Lucene's separate prox file, as one columnar table).
    postings: DataFrame
    terms: DataFrame  # term, df
    doc_norms: DataFrame  # doc_id, dl, content_sha + source cols
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
    """Build prelude: the scan-parallelism guard, then doc_id (verbatim
    from ``doc_id_col`` when given, else xxhash64(*id_cols)) and
    content_sha.

    The guard: the map stage's parallelism is capped by the input split
    count, and small/benchmark inputs often arrive as a handful of
    parquet files, which would serialize the whole build. At 100 TB the
    scan has plenty of splits and this is a no-op."""
    spark_dp = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < spark_dp:
        docs = docs.repartition(spark_dp)
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


# The bucketed tables shuffle into n_buckets * WRITE_FANOUT partitions
# keyed (bucket, sub-hash(term)) before the partitionBy(bucket) write.
# Why not plain repartition(n_buckets, "bucket"): (a) 32 keys hashed
# into 32 partitions collide (Poisson: ~1/e partitions empty, others
# carry 2-3 buckets), and (b) bucket sizes are skewed ~2.6x by the Zipf
# term mass, so the one hot bucket gates the whole write stage. The
# sub-key is a DIFFERENT hash of term (seeded by a literal — pmod of
# the same xxhash64 would be fully determined by the bucket and split
# nothing), so each bucket splits into `fanout` term-disjoint chunks:
# measured 1.9x faster and run-to-run stable at 5x bench scale. Each
# chunk keeps whole terms and stays (term, doc_id)-sorted, so per-file
# row-group pruning and sequential posting reads are unchanged; a
# bucket directory just holds `fanout` files instead of one.
# Default 8 (r7, was 4): with the single-shuffle arrow build the
# sort+write stage became straggler-bound (task_max 2.6 s vs 0.3 s
# mean at 240k); fanout 8 halved the stage wall (3.1 -> 1.9 s,
# task_max 1.4 s) while fanout 16 gained nothing further and doubles
# the file count. Env-overridable for cluster layouts.
WRITE_FANOUT = int(os.environ.get("SPARK_GRAFT_WRITE_FANOUT", "8"))

# Parquet row-group size for index tables. Default 128MB row groups make
# a bucket file ONE unsplittable scan unit (parquet can't split below
# row-group granularity) — a single-term postings scan then
# caps at #files map tasks regardless of cores. 8MB row groups restore
# scan parallelism (measured: dense-phrase positions join 2.07s -> 1.42s
# at 1.2M docs) AND sharpen per-row-group term min/max pruning; the
# footer-metadata overhead is negligible at these schema widths.
ROW_GROUP_BYTES = 8 * 1024 * 1024


def _bucketed_sorted(
    df: DataFrame,
    n_buckets: int,
    fanout: int = WRITE_FANOUT,
    sort_cols: tuple[str, ...] = ("term", "doc_id"),
):
    if fanout <= 1:
        part = df.repartition(n_buckets, "bucket")
    else:
        sub = F.pmod(
            F.xxhash64(F.lit("fanout"), F.col("term")), F.lit(fanout)
        ).cast("int")
        part = df.repartition(n_buckets * fanout, F.col("bucket"), sub)
    # bucket FIRST: FileFormatWriter requires task rows ordered by the
    # partition columns and inserts its own sort-by-(bucket) when the
    # ordering doesn't already lead with them — and that inserted sort
    # is NOT stable, silently scrambling the (term, doc_id) order the
    # row-group pruning claim rests on (caught by
    # tests/test_build_paths.py::test_fanout_write_layout_invariants).
    # Leading with bucket satisfies the requirement, so the writer adds
    # nothing and files keep exact (term, doc_id) order per bucket.
    return part.sortWithinPartitions("bucket", *sort_cols)


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


def write_index(tables: IndexTables, path: str) -> None:
    """Persist the index. postings (positions column included, when
    present) partitioned by term bucket so query-time term lookups prune
    to single directories; rows sorted by (term, doc_id) within files
    for row-group min/max pruning and for sequential posting-list
    reads."""
    (
        _bucketed_sorted(tables.postings, tables.n_buckets)
        .write.mode("overwrite")
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .partitionBy("bucket")
        .parquet(os.path.join(path, "postings"))
    )
    tables.terms.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(path, "terms")
    )
    write_terms_rev(tables.terms, path)
    tables.doc_norms.write.mode("overwrite").parquet(os.path.join(path, "doc_norms"))
    stats = {
        "n_docs": tables.n_docs,
        "avg_dl": tables.avg_dl,
        "n_buckets": tables.n_buckets,
    }
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump(stats, f)


def build_and_write_index(
    docs: DataFrame,
    path: str,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    source_cols: tuple[str, ...] = (),
    cache_tokens: bool = True,
) -> IndexTables:
    """Single-pass build-to-disk: the heavy tokenize→tf→dl pipeline runs
    ONCE, writing postings directly; terms / doc_norms / stats then
    derive from the WRITTEN postings parquet (cheap column-pruned
    re-reads) instead of recomputing the analyzer chain.

    cache_tokens=True persists the encoded doc projection
    (doc_id, content_sha, sources, dl, terms, tfs) DURING pass 1, so the
    doc_norms derivation is a cache scan instead of a postings
    groupBy(doc_id) — that groupBy gets no map-side reduction (a doc's
    terms spread over every partition, so partial agg emits ~P copies
    of each doc row) plus a corpus re-scan with a second sha256 pass.
    MEMORY_AND_DISK: at cluster scale the cache spills to executor-local
    SSD (cost ≈ one extra local write of the tokenized corpus); set
    cache_tokens=False on memory/disk-constrained clusters to fall back
    to the postings-derived path.

    This is the cluster-scale shape (tf may exceed cluster memory; the
    written table IS the checkpoint) and minimizes serial job count —
    the bench path. Returns the same IndexTables as read_index(path).
    """
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
    enc_schema = (
        "doc_id bigint, content_sha string"
        + "".join(
            f", {c} {base.schema[c].dataType.simpleString()}"
            for c in source_cols
        )
        + ", dl int, terms array<string>, tfs array<int>"
    )
    enc = enc_in.mapInArrow(tf_encoder(text_col), enc_schema)
    cached_src = None
    if cache_tokens:
        from pyspark import StorageLevel

        cached_src = enc.persist(StorageLevel.MEMORY_AND_DISK)
        enc = cached_src
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
    # buckets split by the term-sub-hash fanout (see _bucketed_sorted)
    (
        _bucketed_sorted(tfd, n_buckets)
        .write.mode("overwrite")
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .partitionBy("bucket")
        .parquet(os.path.join(path, "postings"))
    )

    # derivations read back only the columns they need; terms and
    # doc_norms are independent, so their jobs run CONCURRENTLY (the
    # serial tail is pure Amdahl loss — it costs the same wall time at
    # every cluster size and so caps scaling efficiency). n_docs/avg_dl
    # ride the doc_norms WRITE as an Observation (query-metric
    # accumulators): the former separate stats job is gone entirely.
    import threading

    from pyspark.sql import Observation

    postings = spark.read.schema(
        "term string, doc_id bigint, tf int, dl int, bucket int"
    ).parquet(os.path.join(path, "postings"))
    obs = Observation("index_stats")

    def _write_terms():
        # ONE dictionary aggregation persisted, then the forward and
        # reversed writes run CONCURRENTLY from the cache (serializing
        # terms_rev behind a re-read of the written terms measured
        # +0.3s on the 240k bench build — pure fixed overhead this
        # nested fan-out removes). df aggregates from the encoded-doc
        # CACHE when present (one row per (doc, term) after explode —
        # identical counts): the cache scan prunes to the terms column
        # and skips re-reading the just-written postings parquet (r7).
        if cached_src is not None:
            term_src = cached_src.select(F.explode("terms").alias("term"))
        else:
            term_src = postings.select("term")
        tdf = (
            term_src.groupBy("term")
            .agg(F.count("*").cast("long").alias("df"))
            .persist()
        )
        inner_errs: list[BaseException] = []

        def _guard(fn):
            def run():
                try:
                    fn()
                except BaseException as e:  # re-raised below
                    inner_errs.append(e)

            return run

        try:
            threads2 = [
                threading.Thread(
                    target=_guard(
                        lambda: tdf.coalesce(8)
                        .write.mode("overwrite")
                        .parquet(os.path.join(path, "terms"))
                    )
                ),
                threading.Thread(
                    target=_guard(lambda: write_terms_rev(tdf, path))
                ),
            ]
            for t in threads2:
                t.start()
            for t in threads2:
                t.join()
            if inner_errs:
                raise inner_errs[0]
        finally:
            tdf.unpersist()

    def _write_doc_norms():
        keep = ["doc_id", "dl", "content_sha", *source_cols]
        if cached_src is not None:
            # cache scan (populated by pass 1): no postings groupBy, no
            # corpus re-scan, no second sha256 pass
            doc_norms = cached_src.select(*keep)
        else:
            dl = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
            doc_norms = (
                base.join(dl, "doc_id", "left").na.fill({"dl": 0}).select(*keep)
            )
        # coalesce(32): 192 scan-split tasks each wrote a ~100 KB file —
        # small-files on every downstream doc_norms scan (guide §6);
        # the cache scan feeding this is trivial so wider parallelism
        # buys nothing
        doc_norms.coalesce(32).observe(
            obs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avg_dl")
        ).write.mode("overwrite").parquet(os.path.join(path, "doc_norms"))

    errs: list[BaseException] = []

    def _run(fn):
        try:
            fn()
        except BaseException as e:  # surfaced after join
            errs.append(e)

    threads = [
        threading.Thread(target=_run, args=(f,))
        for f in (_write_terms, _write_doc_norms)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]

    agg = obs.get
    stats = {
        "n_docs": int(agg["n"]),
        "avg_dl": float(agg["avg_dl"] or 0.0),
        "n_buckets": n_buckets,
    }
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump(stats, f)
    if cached_src is not None:
        cached_src.unpersist()
    # the writer knows every table's schema — passing them to the
    # read-back skips one footer schema-inference job per table (4
    # driver-side jobs of pure fixed cost per build, r7)
    src_fields = "".join(
        f", {c} {base.schema[c].dataType.simpleString()}" for c in source_cols
    )
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
