"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB path: every stage is hash-partitioned DataFrame
algebra — shingle/minhash signatures are computed scan-side with built-in
functions (xxhash64), candidate generation is a band-bucket shuffle join
(LSH), and only candidate pairs pay the exact-verify cost.  No Python UDFs.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.let import let, let2
from .text import tokens


# ---- exact ----------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: List[str]) -> DataFrame:
    """Keep one row per distinct value of ``cols`` (hash groupBy; map-side
    combine makes this a single shuffle on the hash key)."""
    return df.dropDuplicates(cols)


def distinct_count_by(df: DataFrame, group_cols: List[str], col: str,
                      alias: str = "n_distinct") -> DataFrame:
    """count(DISTINCT ``col``) per group over a 128-bit hash proxy.

    The exchange carries (group, struct of two independently-seeded
    xxhash64 values) — 16 bytes per row instead of the payload column
    (a document-scale ``col`` never crosses the network; the map-side
    partial distinct collapses duplicates before the shuffle).  Exact up
    to simultaneous collision of BOTH 64-bit halves between DISTINCT
    values within one group: expected collisions ~n²/2·2⁻¹²⁸ — for a
    billion distinct documents per group that is ~1.5·10⁻²¹, negligible
    at any realizable corpus size.  (A single 64-bit half would NOT be:
    n²/2·2⁻⁶⁴ ≈ 2.7% undercount odds at n = 10⁹ per group.)  Nulls are
    excluded, matching count(DISTINCT) semantics — xxhash64 of a NULL
    input would otherwise hash the seed and count one phantom value."""
    c = F.col(col)
    proxy = F.struct(F.xxhash64(c, F.lit(42)), F.xxhash64(c, F.lit(43)))
    return df.groupBy(*group_cols).agg(
        F.count_distinct(F.when(c.isNotNull(), proxy))
         .alias(alias))


def exact_dup_groups(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Groups of exact duplicates: key -> count + member ids."""
    return (df.groupBy(key.alias("dup_key"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sort_array(F.collect_list(id_col)).alias("ids"))
              .filter(F.col("n") > 1))


def widen_under_split(df: DataFrame, key: str) -> DataFrame:
    """Redistribute an under-split input ahead of a compute-heavy map side
    (guide §2.5, unsplittable inputs).

    A single-row-group parquet file (or one gzip blob) yields ONE scan
    task, so everything fused into the scan stage — tokenization, the
    shingle explode, the 32-permutation partial min-hash — runs on one
    core regardless of cluster size.  Fires only when the scan yields
    fewer splits than the cluster's default parallelism: a real corpus at
    scale has thousands of row-group splits, so this never fires there,
    and when it does fire the cost is one extra pass of a sub-split input
    — exactly the §2.5 remedy, cheaper than leaving (cores-1)/cores of
    the cluster idle.  Hash-partitioned on ``key`` (deterministic under
    task retries, unlike round-robin over nondeterministic input).
    Measured (sf0.1, interleaved min-of-8): minhash_dedup_pairs 1.272 s ->
    1.065 s (1.19x), results identical; 2x-cores fanout measured 0.96x
    (scheduling overhead), hence exactly ``defaultParallelism``.
    ``NEO4J_SPARK_WIDEN_SPLITS=0`` disables (A/B hook)."""
    import os
    if os.environ.get("NEO4J_SPARK_WIDEN_SPLITS", "1") == "0":
        return df
    try:
        n = df.rdd.getNumPartitions()
        cores = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df
    if n >= cores:
        return df
    return df.repartition(cores, F.col(key))


# ---- shingles / minhash ---------------------------------------------------


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as strings."""
    toks = tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signature(sh: Column, num_hashes: int = 32) -> Column:
    """num_hashes min-hash values; permutation i = xxhash64(shingle, seed=i).

    ``let``-bound so the shingle subtree is evaluated once even though the
    signature references it num_hashes times (CollapseProject would otherwise
    inline it per hash — at 32 hashes x 8 band consumers that's a 256x
    per-row blowup)."""
    return let(sh, lambda s: F.array(*[
        F.array_min(F.transform(s, lambda x: F.xxhash64(x, F.lit(i))))
        for i in range(num_hashes)
    ]))


def exploded_shingles(df: DataFrame, id_col: str, text_col: str,
                      shingle_k: int = 3) -> DataFrame:
    """(_id, _s) rows — one 64-bit shingle *hash* per shingle per doc.

    Per-ROW formulation: token hashes once via a transform, then one
    fixed-width ``xxhash64`` per k-window over ``F.get`` lookups
    (``rowwise_shingle_hashes``), exploded.  SHUFFLE-FREE up to the
    consumer's own aggregation — the round-2 window-``lead`` chain paid
    a full sort-shuffle of the token stream before producing the same
    hashes, and measures ~35% slower at sf0.1; at 100 TB the difference
    is an entire exchange of the tokenized corpus.  Rows leave this
    projection doc-contiguous, so the min-hash/collect_set consumers'
    map-side combine collapses them before their doc-id shuffle.  (The
    old string-concat array form — transform + slice + concat_ws — was
    ~5x slower than either; hashing fixed-width longs is the win.)

    Hash-space Jaccard over these equals shingle-string Jaccard up to
    64-bit collisions (~n²/2⁶⁴ — negligible).  Docs with fewer than k
    tokens yield one shingle hash over the available tokens (trailing
    ``F.get`` lookups are null; xxhash64 skips null inputs); empty docs
    yield the hash of the null-token hash, so two empty docs still
    match.  Bit-identical to the streaming path by construction
    (stream_near_dup probes indexes built from this)."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(rowwise_shingle_hashes(F.col(text_col),
                                         shingle_k)).alias("_s"))


def _banded_signatures(ex: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, band, bh) from exploded shingle hashes.

    Permutation i of a shingle is the fixed-width hash xxhash64(_s, i)
    computed inside a min-aggregate per doc — partial (map-side) min
    aggregation collapses the exploded rows before the doc_id shuffle, and
    each permutation re-hashes 12 bytes instead of a whole shingle string.
    Band keys are one xxhash64 over the band's r signature longs.  The
    per-row array form (transform/aggregate HOFs) is ~10x slower because
    HOFs are interpreted per row."""
    r = num_hashes // bands
    sig = ex.groupBy("_id").agg(*[
        F.min(F.xxhash64("_s", F.lit(i))).alias(f"_m{i}")
        for i in range(num_hashes)])
    return (sig.select("_id", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"_m{b * r + i}")
                              for i in range(r)]).alias("bh"))
        for b in range(bands)])).alias("bb"))
        .select("_id", F.col("bb.band").alias("band"),
                F.col("bb.bh").alias("bh")))


def minhash_lsh_candidates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 32, bands: int = 8, shingle_k: int = 3,
    _ex: DataFrame = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    signature -> split into ``bands`` bands of r = num_hashes/bands rows;
    docs sharing any band hash land in the same bucket; bucket self-join
    yields candidates (id_a < id_b).  The join key (band_id, band_hash) is
    high-cardinality => well-distributed shuffle at scale.

    The banded table is persisted before the self-join: both join sides
    would otherwise re-run the shingle explode + 32-hash aggregation
    (self-joins cannot share one lineage without materialization).
    """
    ex = _ex if _ex is not None else exploded_shingles(
        widen_under_split(df, id_col), id_col, text_col, shingle_k)
    banded = _banded_signatures(ex, num_hashes, bands).persist()
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col("a._id") < F.col("b._id")))
              .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
              .dropDuplicates())
    return pairs


def jaccard(a: Column, b: Column) -> Column:
    return let2(a, b, lambda x, y: let(
        F.size(F.array_union(x, y)).cast("double"),
        lambda u: F.when(u > 0, F.size(F.array_intersect(x, y)) / u)
                   .otherwise(F.lit(1.0))))


def minhash_dedup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.8, num_hashes: int = 32, bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH candidates + exact shingle-Jaccard verification >= threshold.

    One shingle-hash PROGRAM feeds everything: the (_id, _s) projection is
    min-hashed for candidates AND re-aggregated into shingle sets for the
    exact verify.  r8: the projection is NOT persisted — with the rowwise
    codegen'd hashing, re-running the explode per consumer fuses it into
    each consumer's WholeStageCodegen pipeline (explode -> partial agg in
    ONE stage, nothing materialized), which measures ~15% faster at sf0.1
    than caching (min 2.39 s vs 2.86 s, results identical) and at 100 TB
    avoids materializing the exploded token stream of the whole corpus
    into executor storage memory entirely — two streaming scans beat one
    scan plus a corpus-sized cache write/read.  Verify cost stays
    proportional to the candidate set, not the corpus (semi-join prune
    before collect).  r9: an under-split input (single-row-group test
    file -> one scan task) is redistributed once up front
    (widen_under_split, guide §2.5) so the explode + 32-permutation
    partial min-hash use the whole cluster; both the candidate and the
    verify branch read the widened frame."""
    df = widen_under_split(df, id_col)
    ex = exploded_shingles(df, id_col, text_col, shingle_k)
    # persist the candidate pairs: they feed three consumers (the two
    # cand_ids projections and the verify join) and each unpersisted
    # consumer would re-run the banded self-join from scratch
    cands = minhash_lsh_candidates(df, id_col, text_col, num_hashes, bands,
                                   shingle_k, _ex=ex).persist()
    # no dropDuplicates: the left_semi probe below is insensitive to
    # duplicate build-side keys, and the dedup would cost an extra shuffle
    cand_ids = (cands.select(F.col("id_a").alias("_vid"))
                .union(cands.select("id_b")))
    # the semi-join sits BELOW the verify explode: Catalyst does not push
    # a join under a Generate, so probing the exploded stream would
    # re-tokenize and re-hash the WHOLE corpus just to discard the
    # non-candidate rows after generation.  Filtering the docs first
    # commutes with the per-row explode (keyed by id), so the verify pass
    # tokenizes only candidate documents — proportional to the candidate
    # set, not the corpus.
    docs_c = df.join(cand_ids, df[id_col] == cand_ids["_vid"], "left_semi")
    # candidate ids/sets are usually tiny relative to the corpus, but can
    # be corpus-sized in a heavily-duplicated crawl — no forced broadcast;
    # both inputs are persisted, so AQE picks broadcast vs shuffle from
    # their REAL sizes at runtime.  persisted: the id_a and id_b joins
    # each build from this table, and an unpersisted lineage would re-run
    # the collect_set (and the candidate semi-join underneath) once per
    # consumer.
    sh = (exploded_shingles(docs_c, id_col, text_col, shingle_k)
            .groupBy("_id").agg(F.collect_set("_s").alias("_sh"))
            .withColumnRenamed("_id", "_vid").persist())
    out = (cands
           .join(sh.select(F.col("_vid").alias("id_a"),
                           F.col("_sh").alias("sh_a")), "id_a")
           .join(sh.select(F.col("_vid").alias("id_b"),
                           F.col("_sh").alias("sh_b")), "id_b")
           .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return out


# ---- n-gram jaccard (exact set-similarity join via prefix filtering) ------


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        group_col: str, n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """EXACT n-gram Jaccard >= threshold pairs within a grouping key.

    Round-3 rewrite: the round-2 version was all-pairs within the group
    — an ``en`` block on a real crawl is ~the corpus, so the self-join
    was O(N²).  This is now a PREFIX-FILTERING set-similarity join (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07): for Jaccard >= t,
    any qualifying pair must overlap in o >= ceil(t*|x|) grams, so if
    the grams of x are put in a GLOBAL canonical order (ascending
    document frequency, rarest first), two qualifying docs must share a
    gram within each one's first |x| - ceil(t*|x|) + 1 grams.  Blocking
    on prefix grams is therefore EXACT (no recall loss, unlike LSH) and
    the block key is a single rare gram — high-cardinality, bounded
    occupancy, well-distributed shuffle at 100 TB.  A size filter
    (t*|x| <= |y| <= |x|/t) prunes candidates further before the exact
    verify, whose cost is proportional to the candidate set.

    r9: an under-split input is redistributed first (widen_under_split,
    guide §2.5) — the per-document gram arrays (string k-shingles) are
    the dominant map-side cost and would otherwise all be computed in
    the single scan task.  Measured at sf0.1 (interleaved min-of-6):
    8.851 s -> 2.481 s (3.57x), results identical."""
    from pyspark.sql import Window as W

    df = widen_under_split(df, id_col)
    grams = df.select(
        F.col(group_col).alias("_g"), F.col(id_col).alias("_id"),
        F.array_distinct(shingles(F.col(text_col), n)).alias("_grams"))
    grams = grams.withColumn("_sz", F.size("_grams")).persist()
    if threshold <= 0:
        # threshold 0 admits pairs sharing NO gram — prefix blocking
        # cannot see those; only here does the group-wide all-pairs join
        # remain (the caller asked for the full cross product)
        a, b = grams.alias("a"), grams.alias("b")
        return (a.join(b, (F.col("a._g") == F.col("b._g"))
                       & (F.col("a._id") < F.col("b._id")))
                 .withColumn("jaccard", F.round(
                     jaccard(F.col("a._grams"), F.col("b._grams")), 6))
                 .select(F.col("a._id").alias("id_a"),
                         F.col("b._id").alias("id_b"), "jaccard"))
    ex = grams.select("_g", "_id", "_sz", F.explode("_grams").alias("_gr"))
    # canonical order: ascending df puts the RAREST grams in prefixes —
    # minimal candidates; ties broken by a hash for determinism
    dfreq = ex.groupBy("_g", "_gr").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (ex.join(dfreq, ["_g", "_gr"])
              .withColumn("_rk", F.row_number().over(
                  W.partitionBy("_g", "_id")
                   .orderBy("_df", F.xxhash64("_gr")))))
    pref_len = F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    pref = ranked.filter(F.col("_rk") <= pref_len) \
                 .select("_g", "_id", "_sz", "_gr")
    a, b = pref.alias("a"), pref.alias("b")
    t = F.lit(threshold)
    cands = (a.join(b, (F.col("a._g") == F.col("b._g"))
                    & (F.col("a._gr") == F.col("b._gr"))
                    & (F.col("a._id") < F.col("b._id"))
                    # size filter: |y| >= t|x| and |x| >= t|y| is NECESSARY
                    # for Jaccard >= t
                    & (F.col("b._sz") >= F.ceil(t * F.col("a._sz")))
                    & (F.col("a._sz") >= F.ceil(t * F.col("b._sz"))))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"))
             .dropDuplicates())
    sets = grams.select(F.col("_id"), F.col("_grams"))
    return (cands
            .join(sets.select(F.col("_id").alias("id_a"),
                              F.col("_grams").alias("_ga")), "id_a")
            .join(sets.select(F.col("_id").alias("id_b"),
                              F.col("_grams").alias("_gb")), "id_b")
            .withColumn("jaccard", F.round(
                jaccard(F.col("_ga"), F.col("_gb")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---- simhash --------------------------------------------------------------


def simhash(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash over tokens: per-bit majority vote of token hashes.

    Single Catalyst pass: one aggregate() over the token hashes keeps a
    64-slot vote array (zip_with against the bit-mask table), then one
    zip_with folds the votes back into a long.  (The naive form — one
    aggregate per bit — re-walks the token array 64x and re-inlines the
    tokenizer per bit once projections collapse.)"""
    powers = F.array(*[
        F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
        for j in range(bits)
    ])
    votes = F.aggregate(
        F.transform(tokens(text), lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, powers,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, F.lit(1))
                              .otherwise(F.lit(-1))))
    return F.aggregate(
        F.zip_with(votes, powers,
                   lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda a, x: a + x)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _block_ranges(n_blocks: int, bits: int = 64):
    """Split ``bits`` into ``n_blocks`` nearly-equal (offset, width)."""
    base, extra = divmod(bits, n_blocks)
    out, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def _block_val(sh: Column, off: int, width: int) -> Column:
    return F.shiftright(sh, off).bitwiseAND(F.lit((1 << width) - 1))


def simhash_band_candidates(sh: DataFrame, max_hamming: int,
                            n_blocks: int = None,
                            key_blocks: int = None) -> DataFrame:
    """Candidate pairs from a (_id, _sh) SimHash frame.

    Round-3 parameterization (the round-2 fixed 4 x 16-bit bands capped
    bucket count at 2^16 per band — occupancy grows linearly with corpus
    size and the per-bucket self-join quadratically).  The banding now
    derives from ``max_hamming`` via the block-combination scheme of
    Manku et al. (WWW'07, "Detecting near-duplicates for web crawling"):
    split the 64 bits into ``n_blocks`` nearly-equal blocks; a pair at
    hamming <= h agrees on SOME ``n_blocks - h`` blocks (pigeonhole), so
    keying C(n_blocks, n_blocks-h) tables on each block-combination
    guarantees recall while keeping the key WIDE — key width ~
    (n_blocks-h)/n_blocks * 64 bits, so bucket count scales with corpus
    size instead of being capped at 2^band_bits.

    Defaults: n_blocks = max_hamming + 3 (capped to keep the table count
    C(n_blocks, 3) small), key_blocks = n_blocks - max_hamming.  At
    h=3 that is 6 blocks / C(6,3)=20 tables of ~32-bit keys — the Manku
    production setting.  Raise n_blocks for more tables (fewer false
    candidates); the choice trades table count against key width, both
    printed in the docstring math rather than silently fixed."""
    from math import comb

    h_eff = min(max_hamming, 63)  # banding cannot guarantee h >= 64
    if n_blocks is None:
        if key_blocks is None:
            # widest key whose table count C(h+k, k) stays <= 32:
            # h=3 -> k=3 (6 blocks, 20 tables, ~32-bit keys — Manku's
            # production setting); h=8 -> k=1 (9 blocks, 9 tables)
            key_blocks = 1
            while comb(h_eff + key_blocks + 1, key_blocks + 1) <= 32:
                key_blocks += 1
        n_blocks = min(h_eff + key_blocks, 64)
    if key_blocks is None:
        key_blocks = max(n_blocks - h_eff, 1)
    if n_blocks - key_blocks < h_eff:
        # pigeonhole needs h differing bits to fit in the EXCLUDED blocks
        raise ValueError(
            f"n_blocks - key_blocks = {n_blocks - key_blocks} < "
            f"max_hamming = {h_eff}: recall not guaranteed")
    from itertools import combinations

    ranges = _block_ranges(n_blocks)
    tables = list(combinations(range(n_blocks), key_blocks))
    banded = sh.select("_id", "_sh", F.explode(F.array(*[
        F.struct(F.lit(ti).alias("band"),
                 F.xxhash64(*[_block_val(F.col("_sh"), *ranges[bi])
                              for bi in combo]).alias("key"))
        for ti, combo in enumerate(tables)
    ])).alias("bb")).select("_id", "_sh", "bb.band", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a._id") < F.col("b._id")))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"),
                     hamming64(F.col("a._sh"),
                               F.col("b._sh")).alias("hamming"))
             .dropDuplicates(["id_a", "id_b"]))


def simhash_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 8,
                      n_blocks: int = None,
                      key_blocks: int = None) -> DataFrame:
    """SimHash near-dup: block-combination banding (recall GUARANTEED
    for hamming <= max_hamming — see simhash_band_candidates) + exact
    hamming verify."""
    sh = df.select(F.col(id_col).alias("_id"),
                   simhash(F.col(text_col)).alias("_sh"))
    cands = simhash_band_candidates(sh, max_hamming, n_blocks, key_blocks)
    return cands.filter(F.col("hamming") <= max_hamming)


# ---- duplicate-group resolution (pairs -> components -> canonical) ---------


def dup_components(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components over a near-duplicate PAIR list: every id that
    appears in a pair gets a ``group`` label (the smallest id in its
    component).  Near-dup similarity is not transitive, but dedup policy
    treats it as such (a~b and b~c means keep one of {a, b, c}) — exactly
    a connected-components problem over the candidate-pair graph.

    The pairs are read once.  A pair list within the broadcast bound
    (``connected_components``) is labelled on the driver, so the
    common case — LSH candidates verified down to a few hundred pairs —
    costs one collect and a broadcast table.  At 100 TB scale the pair
    graph is larger but still SPARSE (LSH candidates, not all pairs); it
    stays distributed, and star contraction converges in O(log^2 n)
    rounds independent of component diameter — chains of near-dups
    (crawl mirrors) are the common worst case that breaks label
    propagation."""
    from ..operators.algorithms import connected_components

    rels = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    return (connected_components(None, rels, max_iter=max_iter)
            .withColumnRenamed("comp", "group"))


def keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   policy: str = "min_id", length_col: str = None,
                   id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Drop all but one document per duplicate component.

    policy='min_id' keeps the smallest id, which already is the component
    label, so the losers are a filter with no winner table; policy=
    'longest' keeps the longest ``length_col`` value (ties broken by
    id).  Docs in no pair pass through untouched — the anti-join side is
    only the LOSERS, so the common case (mostly-unique corpus) broadcasts
    a small exclusion list rather than rewriting the corpus."""
    comps = dup_components(pairs, id_a, id_b)
    if policy == "min_id":
        losers = comps.filter(F.col("id") != F.col("group")).select("id")
    elif policy == "longest":
        if length_col is None:
            raise ValueError("policy='longest' needs length_col")
        ranked = (comps.join(
            df.select(F.col(id_col).alias("id"),
                      F.col(length_col).alias("_len")), "id"))
        from pyspark.sql import Window as W
        rn = F.row_number().over(
            W.partitionBy("group").orderBy(F.col("_len").desc(),
                                           F.col("id").asc()))
        losers = (ranked.withColumn("_rn", rn)
                  .filter(F.col("_rn") > 1).select("id"))
    else:
        raise ValueError(f"unknown policy {policy}")
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


# ---- streaming-safe (per-row) signatures -----------------------------------


def rowwise_shingle_hashes(text: Column, shingle_k: int = 3) -> Column:
    """64-bit shingle hashes computed per row with array HOFs: token
    hashes once, then one fixed-width xxhash64 per k-window of ``F.get``
    lookups.  No window function, no shuffle — legal on an unbounded
    stream AND ~35% faster than the round-2 window-``lead`` chain on
    batch scans (measured at sf0.1), since it skips the token-stream
    sort-shuffle entirely.  ``exploded_shingles`` is explode() over this.

    Semantics: full k-windows for docs with >= k tokens; one
    short-window hash (trailing inputs null, xxhash64 skips nulls) for
    shorter docs; the hash of the null-token hash for empty docs, so two
    empty docs still match."""
    toks = F.filter(F.split(F.lower(text), r"[^\p{L}\p{N}']+"),
                    lambda t: t != "")
    return let(
        F.transform(toks, lambda t: F.xxhash64(t)),
        lambda th: F.when(
            F.size(th) == 0,
            # empty doc: the batch path hashes the null-token hash
            F.array(F.xxhash64(F.xxhash64(F.lit(None).cast("string"))))
        ).otherwise(F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(th) - shingle_k,
                                            F.lit(0))),
            # F.get is 0-based and null (not an ANSI error) out of range
            lambda i: F.xxhash64(*[F.get(th, i + j)
                                   for j in range(shingle_k)]))))


def rowwise_bands_of(sh: Column, num_hashes: int = 32,
                     bands: int = 8) -> Column:
    """array<struct<band, bh>> of banded MinHash keys over a shingle-hash
    array — per-row expression producing IDENTICAL band keys to the
    batch ``_banded_signatures`` (min of xxhash64(shingle, i) per
    permutation, one xxhash64 over each band's r signature longs)."""
    r = num_hashes // bands

    def with_sig(sig):
        return F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.element_at(sig, b * r + i + 1)
                                  for i in range(r)]).alias("bh"))
            for b in range(bands)])

    return let(minhash_signature(sh, num_hashes), with_sig)


def rowwise_band_signatures(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", num_hashes: int = 32,
                            bands: int = 8,
                            shingle_k: int = 3) -> DataFrame:
    """(_id, band, bh) banded MinHash signatures computed per row —
    streaming-safe counterpart of ``exploded_shingles`` +
    ``_banded_signatures`` producing IDENTICAL band keys, so a stream
    probe joins directly against an index built by the batch path."""
    return (df.select(F.col(id_col).alias("_id"),
                      F.explode(let(
                          rowwise_shingle_hashes(F.col(text_col),
                                                 shingle_k),
                          lambda sh: rowwise_bands_of(
                              sh, num_hashes, bands))).alias("bb"))
            .select("_id", F.col("bb.band").alias("band"),
                    F.col("bb.bh").alias("bh")))
