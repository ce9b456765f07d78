"""Deduplication operators for training-data pipelines.

All cross-engine-checkable primitives use md5 (identical hex output in
Spark and DuckDB) so the driver's oracle can value-check results; the
engine-internal fast path would use xxhash64.

Scale notes (these run over 10^12 docs):
- exact dedup: one hash-groupBy; partial agg absorbs duplicates early.
- shingles: explode ≤ (len-n+1) shingles/doc; the shingle join is the
  big shuffle — LSH banding exists precisely to avoid the all-pairs
  join, and `jaccard_pairs` (exact) is only for candidate verification
  or small inputs.
- minhash/simhash: band keys feed caps.banded_pairs — one band
  explode and one grouping on (band, key) that pairs each bucket's
  members, and a band-bucket size cap (`max_bucket`) defuses
  degenerate buckets (all-identical docs) — the hot-key defense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elasticsearch_assets_spark.operators.caps import banded_pairs


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: keep the smallest id per md5(text).
    Returns (<id_col>, text_md5, dup_count)."""
    return (
        df.withColumn("text_md5", F.md5(F.col(text_col)))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .select(id_col, "text_md5", "dup_count")
    )


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (<id>, shingle).
    Tokens come from the code analyzer; shingles are space-joined.

    r7: one vectorized mapInArrow stage (indexing/arrowtf.shingle_
    encoder). The previous JVM array-expression build — transform over
    an index range with slice(_toks, i+1, n) — re-inlined the ENTIRE
    analyzer chain into every window slice (Catalyst performs no CSE
    across lambda boundaries), i.e. ~tokens-per-doc copies of the
    3-regex pipeline per document: dd_decontam measured 15.2 s for
    5k docs. The arrow encoder runs the analyzer once per doc (RE2,
    6.6x the JVM regex throughput) and builds windows + per-doc
    distinct with vectorized int ops; same (<id>, shingle) multiset."""
    from elasticsearch_assets_spark.indexing.arrowtf import (
        ensure_scan_parallelism,
        shingle_encoder,
    )

    id_type = df.schema[id_col].dataType.simpleString()
    sel = ensure_scan_parallelism(df.select(F.col(id_col), F.col(text_col)))
    return sel.mapInArrow(
        shingle_encoder(text_col, n), f"{id_col} {id_type}, shingle string"
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    (id_a < id_b). The shingle self-join is quadratic in bucket size —
    at scale, run minhash_lsh_candidates first and this only on the
    candidate pairs.
    """
    # persist: consumed three times (both join sides + _jaccard_of's sizes)
    sh = shingles(df, text_col, id_col, n).persist()
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_of(inter, sh, id_col, threshold)


def _jaccard_of(
    inter: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) ≥ threshold from the shared-shingle counts
    `inter` (id_a, id_b, inter) and the (<id>, shingle) rows they were
    counted over: jaccard = inter / (|a| + |b| - inter)."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, k: int = 8
) -> DataFrame:
    """MinHash: k hash functions realized as 32-bit SLICES of
    ceil(k/4) md5 digests — mh_i = min over shingles of
    substr(md5(shingle || ':' || i//4), (i%4)*8+1, 8). One md5 per
    shingle per digest (k/4 calls, not k — md5 is the CPU-dominant
    term of LSH dedup at corpus scale; the 4 slices of one digest are
    independent 32-bit keys, and fixed-length lowercase hex compares
    lexicographically == numerically in both engines). md5-based so
    DuckDB reproduces it exactly. 32-bit mins are collision-safe to
    ~2^16 shingles/doc. Returns (<id>, mh_0..mh_{k-1})."""
    # Signature shape history (r7, measured — keep this ordering):
    # 1. r6: explode→groupBy over JVM inline shingle windows. The
    #    window build (slice-in-lambda) ran interpreted with the whole
    #    pipeline duplicated into a pushed-down Filter, on a 1-core
    #    few-file scan: COLD >400 s at the 100x probe (warm bench reps
    #    hid it behind minhash_lsh_candidates' persist).
    # 2. r7 first pass: zero-shuffle array folds (array_min over
    #    transform(md5) per-doc arrays). Won at sf0.1 (0.69→0.45 s)
    #    but the lambda transforms evaluate INTERPRETED — at the 100x
    #    probe the fold side alone cost ~2x what it should.
    # 3. r7 final: Arrow shingle rows (analyzer once per row, RE2,
    #    scan guard) + md5/substring/min as a codegen groupBy(id) —
    #    partial aggregation folds the mins MAP-SIDE, so the "extra"
    #    shuffle carries ~one 8-slice row per doc per partition.
    #    A/B vs shape 2: sf0.1 warm 1.32 vs 1.32 (tie), 100x noop
    #    7.3-8.5 vs 11.9-38 s. Values identical (same min over the
    #    same distinct-shingle md5 slices; gates green).
    sh = shingles(df, text_col, id_col, n)
    dig = sh.select(
        id_col,
        *[
            F.md5(F.concat(F.col("shingle"), F.lit(f":{d}"))).alias(f"_d{d}")
            for d in range((k + 3) // 4)
        ],
    )
    return dig.groupBy(id_col).agg(
        *[
            F.min(
                F.substring(F.col(f"_d{i // 4}"), (i % 4) * 8 + 1, 8)
            ).alias(f"mh_{i}")
            for i in range(k)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    drop_obs=None,
) -> DataFrame:
    """LSH candidate pairs: split the k minhashes into `bands` bands of
    k/bands rows; docs sharing any full band signature are candidates.

    Buckets larger than max_bucket are dropped (degenerate near-
    constant content — the quadratic blowup guard). Pass an
    operators.caps.drop_observation() as drop_obs to COUNT the drops —
    a silent drop of the hottest (most duplicated) buckets reads as a
    clean dedup while missing exactly the docs that most need it; read
    the counts with caps.drop_stats(obs) after any action. Returns
    distinct (id_a, id_b) with id_a < id_b.
    """
    if k % bands:
        raise ValueError(f"k={k} must be a multiple of bands={bands}")
    rows = k // bands
    # persist: a DropCounter's stats pass bands these signatures again,
    # and a later call over the same frame (a dedup loop, the near_dup
    # benchmark) finds them cached instead of re-hashing every shingle
    # (evicted LRU; small — k short hashes per doc). banded_pairs reads
    # it once. The mh_* columns ride into banded_pairs to build the
    # band keys; the pairs never read them.
    sig = minhash_signatures(df, text_col, id_col, n, k).persist()
    band_sigs = [
        F.concat_ws("|", *[F.col(f"mh_{bnd * rows + j}") for j in range(rows)])
        for bnd in range(bands)
    ]
    pairs = banded_pairs(sig, id_col, band_sigs, max_bucket, drop_obs)
    return pairs.select("id_a", "id_b").distinct()


def jaccard_pairs_verified(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    k: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    drop_obs=None,
) -> DataFrame:
    """The scale path for near-dup detection: MinHash+LSH candidate
    generation followed by EXACT n-gram Jaccard verification of only the
    candidate pairs — the all-pairs shingle self-join never happens.

    Precision is exact (every returned pair truly ≥ threshold); recall
    is the LSH family's: P(candidate) = 1-(1-s^rows)^bands, ≈0.96 at
    s=0.8 with k=8/bands=4. Raise k/bands for higher recall.
    """
    cand = minhash_lsh_candidates(
        df, text_col, id_col, n, k, bands, max_bucket, drop_obs
    )
    sh = shingles(df, text_col, id_col, n).persist()
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    # PAIR-FIRST verification: expand each candidate pair by id_a's
    # shingles, then keyed-join on (id_b, shingle) to keep only shared
    # ones — intermediate rows = Σ_pairs |shingles(id_a)|, linear in
    # candidate pairs × doc size. The former shingle-keyed self-join
    # (a ⋈ b ON shingle, pair-restricted afterwards) was quadratic in a
    # hot shingle's candidate-doc count: one stop-word trigram shared
    # by 10^6 candidate docs would have produced 10^12 intermediate
    # rows BEFORE the pair semi-join could drop them.
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_of(inter, sh, id_col, threshold)


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint over md5 hex digits (bits ≤ 32).

    Bit b of token t = 1 iff hex digit b of md5(t) ≥ 8 (top bit of the
    nibble). Fingerprint bit b = majority vote weighted by tf.
    Fully expressible as SQL in both engines. Returns (<id>, simhash)
    with simhash as a bits-length bitstring."""
    if bits > 32:
        raise ValueError(f"simhash bits={bits} exceeds 32")
    # r7: per-(id, tok) tf straight from the Arrow encoder batch —
    # identical counts, but the explode + groupBy(id, tok) shuffle and
    # the JVM analyzer pass are gone (guide §2.4/§4.2; same shape as
    # doc_nll/the index build).
    from elasticsearch_assets_spark.indexing.arrowtf import encode_tf

    tf = encode_tf(df, text_col, keep=[id_col]).select(
        F.col(id_col), F.explode(F.arrays_zip("terms", "tfs")).alias("_z")
    ).select(
        id_col,
        F.col("_z.terms").alias("tok"),
        F.col("_z.tfs").cast("long").alias("tf"),
    )
    h = tf.withColumn("_h", F.md5(F.col("tok")))
    bit_aggs = []
    for b in range(bits):
        nib = F.conv(F.substring("_h", b + 1, 1), 16, 10).cast("int")
        signed = F.when(nib >= 8, F.col("tf")).otherwise(-F.col("tf"))
        bit_aggs.append(F.sum(signed).alias(f"s_{b}"))
    sums = h.groupBy(id_col).agg(*bit_aggs)
    bitstr = F.concat(
        *[F.when(F.col(f"s_{b}") > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(bits)]
    )
    return sums.select(F.col(id_col), bitstr.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    max_hamming: int = 2,
    max_bucket: int = 1000,
    drop_obs=None,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ max_hamming.

    Banding on bit halves (a pair within distance d shares at least one
    of d+1 equal-width bands) keeps this join keyed instead of
    all-pairs. Band buckets larger than `max_bucket` are dropped (a
    degenerate band over near-constant docs makes the band join
    quadratic — same window-count hot-bucket defense as
    minhash_lsh_candidates; drop_obs observes the drop counts, see
    operators.caps)."""
    s = simhash(df, text_col, id_col, bits)
    n_bands = max_hamming + 1
    w = bits // n_bands
    band_bits = [
        F.substring(
            "simhash",
            bnd * w + 1,
            w if bnd < n_bands - 1 else bits - (n_bands - 1) * w,
        )
        for bnd in range(n_bands)
    ]
    # The fingerprint rides into each pair as a LONG (bit-parsed once
    # per doc, 8 B) and hamming = bit_count(a XOR b): a split + zip_with
    # over the bitstrings allocated two 16-element string arrays PER
    # CANDIDATE PAIR. The hamming filter runs BEFORE the distinct, so
    # the distinct shuffles only actual near-dup pairs (a pair can
    # reach it from at most n_bands bands), not every banded candidate.
    rows = s.select(
        id_col, "simhash", F.conv("simhash", 2, 10).cast("long").alias("h")
    )
    pairs = banded_pairs(rows, id_col, band_bits, max_bucket, drop_obs)
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        pairs.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _free_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpoint's block-manager storage now.

    It is otherwise only reclaimed by the ContextCleaner after JVM GC
    notices the DataFrame is unreachable — on a long-lived session the
    per-round checkpoints of the connected-components loops pile up
    linearly. Called once a round's convergence compare is done (the
    analyzed plan of a checkpointed frame is a LogicalRDD; best-effort —
    a miss just defers to the cleaner)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    method: str = "minlabel",
) -> DataFrame:
    """Duplicate-cluster resolution: the step every dedup pipeline needs
    AFTER pair generation (minhash/simhash/embedding pairs are edges;
    deduplication keeps one doc per CONNECTED COMPONENT, not per pair).

    Returns (node, cluster_id) for every node appearing in `pairs`,
    where cluster_id = the minimum node id reachable through the pair
    graph — the component's canonical representative. Docs in no pair
    are their own cluster and are simply absent (dedup_apply treats
    absence as keep).

    Shape: iterative min-label propagation — per round, each node takes
    min(its label, neighbors' labels); converges in O(component
    diameter) rounds and stops at the first unchanged round. Near-dup
    components are shallow (dense blobs of mutual similarity), so the
    round count stays small at 10^12 docs; every round is two keyed
    shuffles (join + groupBy), no driver-side graph. Raises if max_iter
    rounds pass without convergence rather than returning a wrong
    clustering.

    method="star" (r6): large-star/small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — converges in
    O(log^2 n) rounds regardless of diameter, the right loop for
    adversarial long-chain graphs where min-label needs O(diameter)
    rounds. Default stays "minlabel": near-dup components are shallow
    blobs, and min-label's two shuffles/round win there.
    """
    if method == "star":
        return _connected_components_star(pairs, id_a, id_b, max_iter)
    if method != "minlabel":
        raise ValueError(f"unknown method {method!r} (minlabel|star)")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    # localCheckpoint (NOT just persist) each round: an iterative plan
    # that only persists still deepens the LOGICAL plan every round, and
    # Catalyst re-analysis of the nested join lineage grows super-
    # linearly — by ~15 rounds planning dominates and the loop appears
    # hung. Checkpointing truncates lineage so every round plans against
    # a flat scan. (On a cluster prefer sc.setCheckpointDir +
    # .checkpoint() for executor-loss resilience; localCheckpoint is the
    # single-process form.)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    try:
        for _round in range(max_iter):
            nbr_min = (
                edges.join(
                    labels.select(
                        F.col("node").alias("dst"),
                        F.col("label").alias("dst_label"),
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("dst_label").alias("nbr_min"))
            )
            new_labels = (
                labels.join(
                    nbr_min.select(F.col("src").alias("node"), "nbr_min"),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nbr_min", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            _free_checkpoint(labels)
            labels = new_labels
            if changed == 0:
                return labels.select(
                    F.col("node"), F.col("label").alias("cluster_id")
                )
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter or use "
            'method="star" for long-chain graphs'
        )
    finally:
        edges.unpersist()


def _connected_components_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al. 2014): each
    round rewires the edge set toward per-component stars centered on
    the minimum node —

      large-star: every node u connects its STRICTLY LARGER neighbors
        to m(u) = min(neighborhood(u) ∪ {u})
      small-star: every node u connects its ≤ neighbors (and itself)
        to m(u) over the smaller-directed neighborhood

    Both steps preserve connectivity; alternating them converges to a
    fixpoint where every component is a star rooted at its minimum —
    in O(log^2 n) rounds independent of diameter (vs O(diameter) for
    min-label). Per round: one groupBy(min) + one join per step; same
    localCheckpoint lineage-truncation discipline as the min-label
    loop. Output contract matches connected_components: (node,
    cluster_id = component minimum) for every node in `pairs`."""
    all_nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .unionByName(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .persist()
    )

    # undirected edge list, kept as (u, v) with u != v
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    try:
        for _round in range(max_iter):
            # ---- large-star ----
            nbrs = edges.unionByName(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            mins = (
                nbrs.groupBy("u")
                .agg(F.min("v").alias("_mv"))
                .select("u", F.least("_mv", "u").alias("m"))
            )
            ls = (
                nbrs.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint()
            )
            # ---- small-star (neighborhood = smaller neighbors only) ----
            down = ls.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            ).where(F.col("u") != F.col("v"))
            smins = down.groupBy("u").agg(F.min("v").alias("m"))
            joined = down.join(smins, "u")
            new_edges = (
                joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(
                    joined.select(F.col("u").alias("u"), F.col("m").alias("v"))
                )
                .where(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint()
            )
            _free_checkpoint(ls)
            # symmetric-difference fixpoint test BEFORE the old edge
            # frame's checkpoint storage is released (a freed local
            # checkpoint cannot be recomputed)
            changed = (
                new_edges.join(edges, ["u", "v"], "left_anti").limit(1).count()
                + edges.join(new_edges, ["u", "v"], "left_anti").limit(1).count()
                if _round > 0
                else 1
            )
            _free_checkpoint(edges)
            edges = new_edges
            if _round > 0 and changed == 0:
                stars = edges.select(
                    F.greatest("u", "v").alias("node"),
                    F.least("u", "v").alias("cluster_id"),
                ).distinct()
                return (
                    all_nodes.join(stars, "node", "left")
                    .select(
                        "node",
                        F.coalesce("cluster_id", F.col("node")).alias(
                            "cluster_id"
                        ),
                    )
                )
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds"
        )
    finally:
        all_nodes.unpersist()


def dedup_apply(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Apply a clustering: keep each component's canonical doc (the one
    whose id IS its cluster_id) plus every unpaired doc. One anti-join
    against the non-canonical members — no full-table shuffle."""
    losers = clusters.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _doc_lines(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(<id>, pos, line, norm): one row per line of each doc, in order.
    norm = trim(line) — the cross-engine-stable normalization (no
    casefold: Unicode special-casing diverges between engines exactly
    where lowercase maps into ASCII, see functions/analyzer.py). NULL
    text behaves as ''."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    ).withColumn("norm", F.trim("line"))


def line_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus-wide line frequency: (line, n_docs) for every non-blank
    normalized line, n_docs = DISTINCT docs containing it. The stats
    side of CCNet-style boilerplate detection (headers, license
    preambles, nav menus repeat VERBATIM across pages).

    Scale: one groupBy on the line text — partial aggregation absorbs
    each doc's repeats map-side; hot boilerplate lines (the ones this
    exists to find) are exactly the well-compressed keys."""
    return (
        _doc_lines(df, text_col, id_col)
        .where(F.col("norm") != "")
        .groupBy(F.col("norm").alias("line"))
        .agg(F.countDistinct(id_col).alias("n_docs"))
    )


def dedup_lines(
    df: DataFrame, text_col: str, id_col: str, min_docs: int = 2
) -> DataFrame:
    """CCNet-style line-level dedup: remove every line whose trimmed
    form appears in >= min_docs distinct documents, preserving the
    original text and order of the surviving lines. Blank lines are
    never counted as boilerplate (they survive). Returns
    (<id>, text_dedup, n_removed) with every input doc present —
    a doc that was ALL boilerplate comes back as ''.

    Scale shape: two keyed shuffles (the line-frequency groupBy and the
    per-doc reassembly groupBy) plus one anti-join keyed on the line
    text; nothing is quadratic and no driver collect. The boilerplate
    set is usually small but is NOT broadcast-forced — at 10^12 docs
    the >=min_docs line dictionary can be arbitrarily large, so the
    equi-join is left to AQE.
    """
    lines = _doc_lines(df, text_col, id_col)
    boiler = (
        line_stats(df, text_col, id_col)
        .where(F.col("n_docs") >= min_docs)
        .select(F.col("line").alias("norm"))
    )
    kept = lines.join(boiler, "norm", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text_dedup"),
        F.count("*").alias("_n_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_n_lines"
        ),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
