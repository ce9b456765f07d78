"""Arrow-native analyzer + per-doc tf encoder for the index build.

Pass 1 of ``build_and_write_index`` is CPU-bound in exactly two places
(event-log task_sum profile, r7): the JVM regex analyzer (~41 s CPU of a
~205 s-CPU 240k build) and the explode + two-phase hash aggregation that
turns token streams into (term, doc_id, tf) rows (~78 s CPU + a 400 MB
intermediate shuffle). This module moves both into ONE vectorized
``mapInArrow`` stage (guide §4.2: let Spark do distribution and I/O,
hand whole Arrow batches to native code):

- the analyzer runs as pyarrow.compute RE2 kernels — measured ~30 MB/s
  per core vs ~4.5 MB/s for the JVM regexp_replace chain on the same
  content (6.6x), and byte-identical tokens (RE2 and java.util.regex
  agree on every pattern here because step 0 strips non-ASCII before
  any casing; pinned by a unicode fuzz test);
- tf is computed per doc inside the batch with dictionary-encode +
  lexsort run-length encoding (numpy int ops, no Python loops). A doc's
  tokens never span batches, so per-batch tf is exact and the JVM-side
  groupBy(term, doc_id) — partial AND final aggregation, plus the
  shuffle between them — disappears from the build: the encoder's
  output rows go straight into the single bucket-layout repartition.

The output is doc-level (doc_id, <passthrough>, dl, terms[], tfs[]):
doc-level so the tokenized cache that feeds doc_norms keeps exactly the
shape build_and_write_index already persisted, with the token POSITIONS
dropped (postings need tf only) — the cache gets smaller, not bigger.

The JVM implementation (analyze_col + explode + groupBy) remains in
build_index as the reference; tests pin multiset equality of the two
pipelines on unicode/null/empty corpora.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from elasticsearch_assets_spark.functions.analyzer import (
    ACRONYM_RE,
    ASCII_RE,
    CAMEL_RE,
    SPLIT_RE,
)


def arrow_analyze(col: pa.Array) -> pa.Array:
    """The analyzer pipeline as pyarrow RE2 kernels: list<string> of
    tokens per row, possibly containing "" entries (callers filter).
    Same step order as analyze_text/analyze_col — non-ASCII separated
    BEFORE casing, so only ASCII reaches utf8_lower and every engine's
    lowercase agrees."""
    import pyarrow.compute as pc

    s = pc.replace_substring_regex(col, pattern=ASCII_RE, replacement=" ")
    s = pc.replace_substring_regex(s, pattern=CAMEL_RE, replacement=r"\1 \2")
    s = pc.replace_substring_regex(s, pattern=ACRONYM_RE, replacement=r"\1 \2")
    s = pc.utf8_lower(s)
    return pc.split_pattern_regex(s, pattern=SPLIT_RE)


def _encode_batch(batch: pa.RecordBatch, text_col: str) -> pa.RecordBatch:
    import numpy as np
    import pyarrow.compute as pc

    n, flat, doc_idx, counts = _flat_tokens(batch, text_col)
    dl = counts.astype(np.int32)

    # per-(doc, term) tf: dictionary codes + stable integer lexsort +
    # boundary run-length — all vectorized, no Python per-row work
    if len(doc_idx):
        enc = pc.dictionary_encode(flat)
        codes = np.asarray(enc.indices, dtype=np.int64)
        dictionary = enc.dictionary
        order = np.lexsort((codes, doc_idx))
        ds = doc_idx[order]
        cs = codes[order]
        boundary = np.empty(len(ds), dtype=bool)
        boundary[0] = True
        np.logical_or(ds[1:] != ds[:-1], cs[1:] != cs[:-1], out=boundary[1:])
        starts = np.flatnonzero(boundary)
        tf = np.diff(np.append(starts, len(ds))).astype(np.int32)
        gdoc = ds[starts]
        terms_flat = dictionary.take(pa.array(cs[starts]))
        groups_per_doc = np.bincount(gdoc, minlength=n)
    else:
        tf = np.empty(0, dtype=np.int32)
        terms_flat = pa.array([], type=pa.string())
        groups_per_doc = np.zeros(n, dtype=np.int64)

    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(groups_per_doc, out=offsets[1:])
    off_arr = pa.array(offsets, type=pa.int32())
    terms_list = pa.ListArray.from_arrays(off_arr, terms_flat)
    tfs_list = pa.ListArray.from_arrays(
        off_arr, pa.array(tf, type=pa.int32())
    )

    cols, names = [], []
    for i, f in enumerate(batch.schema):
        if f.name == text_col:
            continue
        cols.append(batch.column(i))
        names.append(f.name)
    cols += [pa.array(dl, type=pa.int32()), terms_list, tfs_list]
    names += ["dl", "terms", "tfs"]
    return pa.RecordBatch.from_arrays(cols, names=names)


def tf_encoder(text_col: str):
    """mapInArrow function: (passthrough..., <text_col>) batches in,
    (passthrough..., dl, terms, tfs) batches out."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _encode_batch(batch, text_col)

    return fn


def ensure_scan_parallelism(df, min_bytes: int = 2 << 20):
    """Few-file parquet inputs cap the map stage at the file/row-group
    count (a 58 MB single-row-group file = ONE task no matter the
    cluster) — the same trap build_index guards against. Repartition to
    defaultParallelism when the scan is coarser; at real corpus scale
    the scan has plenty of splits and this is a no-op (guide §2.5
    "input skew: one huge unsplittable file — repartition immediately
    after the read").

    Scale-adaptive (guide §2 "derive from input size"): inputs smaller
    than ``min_bytes`` are left alone — there the exchange costs more
    than the serialized compute it parallelizes, and bench-scale
    frames must not pay a shuffle that only a BIG few-file layout
    needs. 2 MB floor: a 5.8 MB single-file text table measured 6.5 s
    single-core through the shingle encoder vs ~1 s repartitioned,
    while at 0.6 MB the guard's exchange only added overhead. Unknown
    sizes (non-file sources) guard conservatively."""
    spark_dp = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= spark_dp:
        return df
    try:
        import os

        files = df.inputFiles()
        size = sum(
            os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
            for f in files
        )
    except Exception:
        size = None
    if size is not None and size < min_bytes:
        return df
    return df.repartition(spark_dp)


def encode_tf(df, text_col: str = "text", keep: list[str] | None = None):
    """DataFrame-level wrapper over ``tf_encoder``: project down to
    ``keep`` + the text column (guide §4.1 — mapInArrow ships every
    column it is given, so select first), run the one-stage Arrow
    analyzer/tf encoder, and return (keep..., dl, terms, tfs) where
    ``terms`` is the doc's DISTINCT tokens and ``tfs`` the aligned
    term frequencies (sum(tfs) == dl). Token parity with analyze_col /
    analyze_text is exact (tests/test_build_paths.py); text-consuming
    operators use this instead of exploding analyze_col when they need
    token MULTISETS rather than token order (r7: the JVM regex chain
    measures ~4.5 MB/s/core vs ~30 MB/s/core for these RE2 kernels)."""
    from pyspark.sql import functions as F

    keep = list(keep or [])
    reserved = {"dl", "terms", "tfs"}
    if reserved & set(keep):
        raise ValueError(f"keep collides with {reserved}")
    sel = ensure_scan_parallelism(df.select(*keep, F.col(text_col)))
    schema = "".join(
        f"`{c}` {sel.schema[c].dataType.simpleString()}, " for c in keep
    )
    return sel.mapInArrow(
        tf_encoder(text_col),
        schema + "dl int, terms array<string>, tfs array<int>",
    )


def _flat_tokens(batch: pa.RecordBatch, text_col: str):
    """Analyzer prelude shared by every encoder here: returns
    (nrows, flat, doc_idx, counts) — the filtered flat token stream,
    each token's row index, and per-row token counts."""
    import numpy as np
    import pyarrow.compute as pc

    nrows = batch.num_rows
    content = batch.column(batch.schema.get_field_index(text_col))
    toks = arrow_analyze(content)

    counts = np.asarray(pc.fill_null(pc.list_value_length(toks), 0))
    flat = pc.list_flatten(toks)
    doc_idx = np.repeat(np.arange(nrows, dtype=np.int64), counts)
    keep = pc.not_equal(flat, "")
    keep_np = np.asarray(keep)
    if len(keep_np):
        flat = flat.filter(keep)
        doc_idx = doc_idx[keep_np]
    counts = np.bincount(doc_idx, minlength=nrows)
    return nrows, flat, doc_idx, counts


def _doc_shingles(batch: pa.RecordBatch, text_col: str, n: int):
    """Per-batch core shared by the shingle encoders: returns
    (nrows, out_doc, out_shingle) where out_doc (np.int64 row indices,
    ascending) and out_shingle (pa.StringArray) list each doc's
    DISTINCT word-n-gram shingles."""
    import numpy as np
    import pyarrow.compute as pc

    nrows, flat, doc_idx, counts = _flat_tokens(batch, text_col)

    # window starts, globally indexed into the filtered token stream
    wc = np.maximum(counts - (n - 1), 0)
    total = int(wc.sum())
    if total == 0:
        return nrows, np.empty(0, dtype=np.int64), pa.array(
            [], type=pa.string()
        )
    doc_off = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(counts, out=doc_off[1:])
    w_off = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(wc, out=w_off[1:])
    win_doc = np.repeat(np.arange(nrows, dtype=np.int64), wc)
    g = (np.arange(total, dtype=np.int64)
         - np.repeat(w_off[:-1], wc)
         + np.repeat(doc_off[:-1], wc))
    parts = [flat.take(pa.array(g + i)) for i in range(n)]
    shingle = pc.binary_join_element_wise(*parts, " ")

    # distinct per doc: dictionary codes + lexsort + boundary unique
    enc = pc.dictionary_encode(shingle)
    codes = np.asarray(enc.indices, dtype=np.int64)
    order = np.lexsort((codes, win_doc))
    ds, cs = win_doc[order], codes[order]
    first = np.empty(len(ds), dtype=bool)
    first[0] = True
    np.logical_or(ds[1:] != ds[:-1], cs[1:] != cs[:-1], out=first[1:])
    return nrows, ds[first], enc.dictionary.take(pa.array(cs[first]))


def _shingle_batch(batch: pa.RecordBatch, text_col: str, n: int) -> pa.RecordBatch:
    import numpy as np

    id_arr = batch.column(0)
    nrows, out_doc, out_shingle = _doc_shingles(batch, text_col, n)
    return pa.RecordBatch.from_arrays(
        [id_arr.take(pa.array(out_doc)), out_shingle],
        names=[batch.schema[0].name, "shingle"],
    )


def _gram_stats_batch(
    batch: pa.RecordBatch, text_col: str, ns: tuple
) -> pa.RecordBatch:
    """Per-doc n-gram multiset statistics for each n in ns: total
    window count, distinct-gram count, and the max multiplicity of any
    single gram. Gram identity = the n-tuple of token DICTIONARY CODES
    (tokens contain no separators, so tuple equality == joined-string
    equality — no gram strings are ever built). Counts are exact ints;
    the fraction arithmetic (and its HALF_UP rounding) stays JVM-side
    so cross-engine float parity is untouched."""
    import numpy as np
    import pyarrow.compute as pc

    nrows, flat, doc_idx, counts = _flat_tokens(batch, text_col)
    if len(doc_idx):
        codes = np.asarray(pc.dictionary_encode(flat).indices, dtype=np.int64)
    else:
        codes = np.empty(0, dtype=np.int64)
    doc_off = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(counts, out=doc_off[1:])

    cols = [batch.column(0)]
    names = [batch.schema[0].name]
    for n in ns:
        wc = np.maximum(counts - (n - 1), 0)
        total = int(wc.sum())
        if total == 0:
            z = np.zeros(nrows, dtype=np.int32)
            dist = top = z
        else:
            w_off = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(wc, out=w_off[1:])
            win_doc = np.repeat(np.arange(nrows, dtype=np.int64), wc)
            g = (np.arange(total, dtype=np.int64)
                 - np.repeat(w_off[:-1], wc)
                 + np.repeat(doc_off[:-1], wc))
            cols_n = [codes[g + i] for i in range(n)]
            order = np.lexsort(tuple(reversed(cols_n)) + (win_doc,))
            ds = win_doc[order]
            sorted_cols = [c[order] for c in cols_n]
            boundary = np.empty(total, dtype=bool)
            boundary[0] = True
            acc = ds[1:] != ds[:-1]
            for c in sorted_cols:
                acc = acc | (c[1:] != c[:-1])
            boundary[1:] = acc
            starts = np.flatnonzero(boundary)
            group_counts = np.diff(np.append(starts, total))
            doc_of_group = ds[starts]
            dist = np.bincount(doc_of_group, minlength=nrows).astype(np.int32)
            # per-doc max multiplicity: groups are doc-contiguous
            first_group = np.empty(len(doc_of_group), dtype=bool)
            first_group[0] = True
            first_group[1:] = doc_of_group[1:] != doc_of_group[:-1]
            seg_starts = np.flatnonzero(first_group)
            seg_max = np.maximum.reduceat(group_counts, seg_starts)
            top = np.zeros(nrows, dtype=np.int32)
            top[doc_of_group[seg_starts]] = seg_max.astype(np.int32)
        cols += [
            pa.array(wc.astype(np.int32)),
            pa.array(dist),
            pa.array(top),
        ]
        names += [f"_tot{n}", f"_dist{n}", f"_top{n}"]
    return pa.RecordBatch.from_arrays(cols, names=names)


def encode_gram_stats(df, text_col: str, id_col: str, ns: tuple):
    """(<id>, _tot<n>, _dist<n>, _top<n> per n) — the integer inputs of
    the Gopher repetition fractions, one Arrow stage (scan guard
    included)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _gram_stats_batch(batch, text_col, tuple(ns))

    from pyspark.sql import functions as F

    id_type = df.schema[id_col].dataType.simpleString()
    sel = ensure_scan_parallelism(df.select(F.col(id_col), F.col(text_col)))
    schema = f"`{id_col}` {id_type}" + "".join(
        f", _tot{n} int, _dist{n} int, _top{n} int" for n in ns
    )
    return sel.mapInArrow(fn, schema)


def shingle_encoder(text_col: str, n: int):
    """mapInArrow function producing DISTINCT word-n-gram shingle rows
    (<first input column: the id>, shingle) per doc. The analyzer runs
    exactly once per row (pyarrow RE2) — the JVM array-expression
    version re-inlined the whole regex chain into every window slice
    (Catalyst does not CSE across lambda boundaries), i.e. ~t copies of
    the analyzer per doc; this is the r7 fix for that plus the 6.6x
    RE2-vs-JVM throughput gap."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _shingle_batch(batch, text_col, n)

    return fn
