"""Deduplication operators for document corpora.

Five strategies, cheapest→strongest:

1. exact            — content-hash groupBy (one shuffle on the hash).
2. ngram_jaccard    — shingle inverted index + pair verification.
3. minhash_lsh      — MinHash signatures + banded LSH bucketing; the
                      100 TB path (candidate pairs only, never all-pairs).
4. simhash          — 32-bit sign-aggregated fingerprint; hamming-0
                      buckets (extendable to 1-2 bit probes).
5. embedding_cosine — near-dup via embedding similarity threshold.

Hashing uses the portable polynomial hash (llm.text.char_hash) so the
DuckDB oracle can reproduce results bit-for-bit; swap in F.xxhash64 for
maximum throughput when cross-engine reproducibility isn't needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from benthos_spark.llm.text import HASH_PRIME

# fixed affine-permutation parameters (public MinHash construction:
# h_i(x) = (a_i * x + b_i) mod p), seeded deterministically
MINHASH_PERMS = [(2 * i + 1, 7919 * (i + 1) % HASH_PRIME)
                 for i in range(16)]


def hash48(col: Column) -> Column:
    """Portable 48-bit string hash: first 12 hex chars of md5.

    All JVM intrinsics (md5/substring/conv) → whole-stage codegen,
    unlike a char-level polynomial fold which Spark evaluates
    interpreted inside higher-order functions (~100× slower in the
    shingle loop).  DuckDB reproduces it exactly (see oracle SQL)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5 the content, keep the smallest id per hash.
    One hash-aggregate shuffle; at 100 TB prefer grouping on the digest
    (fixed 16 bytes) over the raw text — done here."""
    return (df.withColumn("__h", F.md5(F.col(text)))
              .groupBy("__h")
              .agg(F.min(id_col).alias(id_col),
                   F.count("*").alias("n_copies"))
              .drop("__h"))


SHINGLE_MULT = 8191  # 2^13-1: keeps (acc%P)*M + h48 < 2^63


def token_hash_frame(df: DataFrame, text: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, th: array<long>) — per-token portable 48-bit hashes in
    document order.

    One expression per row — transform(split(text), md5-hash) — pushed
    through a Generate barrier (text.materialize_cols) so downstream
    per-shingle lambdas reference the MATERIALIZED hash array instead
    of re-hashing the document per shingle (CollapseProject would
    inline the transform into every element_at otherwise).  Zero
    shuffle; measured 2.2× faster at sf0.1 than the previous
    explode → codegen md5 → collect_list+sort plan, which paid a
    (id, pos, hash) shuffle for the reassembly."""
    from benthos_spark.llm.text import materialize_cols
    from benthos_spark.operators.scale import ensure_scan_parallelism
    # NULL text coalesces to '' BEFORE hashing: otherwise split(null)
    # propagates a null `th`, the whole-doc fold yields a null shingle,
    # and the Arrow kernel's np.asarray(..., int64) would hit a
    # platform-defined NaN cast — the Column and Arrow paths would
    # disagree on null docs.  With the coalesce no null ever reaches
    # either kernel and both paths stay bit-identical.
    toks = F.split(F.trim(F.coalesce(F.col(text), F.lit(""))), r"\s+")
    return materialize_cols(
        ensure_scan_parallelism(df.select(F.col(id_col), F.col(text))),
        th=F.transform(toks, hash48)).select(id_col, "th")


def shingles_from_token_hashes(th: Column, n: int = 3) -> Column:
    """Distinct shingle keys by arithmetic combination of n consecutive
    token hashes: fold (acc % P) * 8191 + h, mod P — pure int64 math
    (no per-shingle string building), reproducible in any engine.
    Documents shorter than n collapse to one whole-doc shingle."""
    k = F.size(th)

    def combine(i: Column) -> Column:
        acc = F.element_at(th, i + 1) % HASH_PRIME
        for j in range(1, n):
            acc = (acc * SHINGLE_MULT + F.element_at(th, i + 1 + j)) % HASH_PRIME
        return acc

    whole = F.aggregate(th, F.lit(0).cast("long"),
                        lambda a, x: (a * SHINGLE_MULT + x) % HASH_PRIME)
    return F.array_distinct(
        F.when(k >= n, F.transform(F.sequence(F.lit(0), k - n), combine))
         .otherwise(F.array(whole)))


def shingle_hash_frame(df: DataFrame, text: str = "text",
                       id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, __sh: array<long>) distinct shingle hashes — the shared
    front of every near-dup operator.  `__sh` goes through its own
    Generate barrier: the MinHash signature references it 16 times
    (once per permutation), and without the barrier CollapseProject
    re-derives the whole shingle array per permutation."""
    from benthos_spark.llm.text import materialize_cols
    return materialize_cols(
        token_hash_frame(df, text, id_col),
        __sh=shingles_from_token_hashes(F.col("th"), n)).select(
            F.col(id_col), F.col("__sh"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-word shingles as arrays of strings."""
    toks = F.split(F.trim(text), r"\s+")
    k = F.size(toks)
    return F.when(k >= n, F.transform(
        F.sequence(F.lit(0), k - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )).otherwise(F.array(F.array_join(toks, " ")))


def signature_from_hashes(sh: Column,
                          perms: list[tuple[int, int]] = MINHASH_PERMS) -> Column:
    """MinHash signature over a (materialized) shingle-hash array: per
    permutation i, min over hashes of (a_i*h + b_i) mod p."""

    def perm_min(a: int, b: int) -> Column:
        return F.array_min(F.transform(
            sh, lambda h: (h * a + b) % HASH_PRIME))

    return F.array(*[perm_min(a, b) for a, b in perms])


def _banded_signatures_arrow(hashed: DataFrame, id_col: str,
                             bands: int, r: int) -> DataFrame:
    """(id, band, band_key) from the shingle-hash frame via one
    Arrow-batched numpy kernel: all 16 permutation minima per document
    come out of a single (m_shingles × 16) int64 broadcast-multiply —
    the pure-Column form evaluates 16 interpreted array_min(transform)
    folds per row (~3× slower at sf1).  Integer math is identical:
    h < P ≈ 2^30 and a ≤ 31, so h·a+b stays far inside int64, and
    numpy's % matches the JVM's for non-negative operands — the band
    keys are bit-identical to the Column path (equivalence-tested)."""
    import pandas as pd

    A = [a for a, _ in MINHASH_PERMS]
    B = [b for _, b in MINHASH_PERMS]

    def gen(batches):
        import numpy as np
        a = np.asarray(A, dtype=np.int64)[None, :]
        b = np.asarray(B, dtype=np.int64)[None, :]
        for pdf in batches:
            ids, obands, okeys = [], [], []
            for i, sh in zip(pdf[id_col].tolist(), pdf["__sh"].tolist()):
                h = np.asarray(sh, dtype=np.int64)[:, None]
                sig = ((h * a + b) % HASH_PRIME).min(axis=0)
                for bi in range(bands):
                    ids.append(i)
                    obands.append(bi)
                    okeys.append("-".join(
                        str(v) for v in sig[bi * r:(bi + 1) * r]))
            yield pd.DataFrame({id_col: ids, "band": obands,
                                "band_key": okeys})

    id_t = hashed.schema[id_col].dataType.simpleString()
    return hashed.mapInPandas(
        gen, schema=f"{id_col} {id_t}, band int, band_key string")


def _banded_signatures_column(hashed: DataFrame, id_col: str,
                              bands: int, r: int) -> DataFrame:
    """Pure-Column band keys: (id, band, band_key) — same values as the
    Arrow kernel.  The repartition between shingle-hashing and
    signature/band projection is a deliberate materialization barrier
    (see minhash_lsh_pairs docstring)."""
    sig_df = hashed.select(
        F.col(id_col),
        signature_from_hashes(F.col("__sh")).alias("__sig")) \
        .repartition(id_col)
    sig = F.col("__sig")
    return sig_df.select(
        F.col(id_col),
        F.posexplode(F.array(*[
            F.array_join(F.transform(F.slice(sig, i * r + 1, r),
                                     lambda x: x.cast("string")), "-")
            for i in range(bands)
        ])).alias("band", "band_key"),
    )


def minhash_lsh_pairs(df: DataFrame, text: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      bands: int = 4,
                      arrow_kernel: bool = True,
                      hot_cap: int | None = 100_000) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    rows_per_band = len(perms)/bands; two docs collide if any band of
    their signatures is identical.  Pair generation touches only
    (doc, band) keys — at 100 TB this is the standard linear-ish
    alternative to the quadratic all-pairs compare.  Hot buckets
    (boilerplate documents) emit their inherently-quadratic PAIR
    OUTPUT from one task; `hot_cap` bounds that: a bucket with more
    than hot_cap members raises an actionable error at execution time
    (use minhash_lsh_star_edges, whose output stays O(bucket), or
    raise/disable the cap).  The default 100k caps any single
    bucket's output at ~5·10⁹ pairs — already far past where the
    downstream `.distinct()` shuffle, not pair generation, is the
    real wall, so salting the generation (shuffling O(b²) list bytes
    to spread the explode) would just move the problem; refusal with
    the linear-output pointer is the design answer.  `hot_cap=None`
    disables the guard.

    `arrow_kernel=True` (default) computes the 16 permutation minima in
    one numpy broadcast per document (map-only, Arrow-batched);
    `False` keeps the pure-Column form — same values either way.  In
    the Column form, the repartition between shingle-hashing and
    signature/band projection is a deliberate materialization barrier:
    CollapseProject would otherwise inline the shingle-hash array into
    all 16 permutation expressions and every band key, recomputing it
    ~64× per row.  The shuffled payload is just (id, 16 longs) — tiny.
    """
    r = len(MINHASH_PERMS) // bands
    hashed = shingle_hash_frame(df, text, id_col, n)
    if arrow_kernel:
        banded = _banded_signatures_arrow(hashed, id_col, bands, r)
    else:
        banded = _banded_signatures_column(hashed, id_col, bands, r)
    # Pair generation off ONE aggregation of the bucket key, not a
    # self-join (r9) — the join form duplicated the entire banded
    # pipeline (scan + shingle HOFs + signature kernel ran TWICE, once
    # per join side; Catalyst does not reuse Python-stage subtrees
    # across join inputs) and paid a broadcast of the banded frame.
    # r10: groupBy + posexplode + slice-explode (the ngram_jaccard
    # pair idiom) replaces the r9 window form — the sorted member
    # list is materialized ONCE per bucket instead of once per ROW
    # (the window's per-row collect_list made a b-member bucket hold
    # b copies of a b-array in one task: O(b²) memory before a single
    # pair was emitted), same pair set bit-exactly after the same
    # .distinct(), and measured ≥ the window form at the bench shape
    # (1.00 vs 1.02 same-session min-of-4; 463-row oracle unchanged).
    lists = (banded.groupBy("band", "band_key")
             .agg(F.array_sort(F.collect_list(id_col)).alias("__ids"))
             .filter(F.size("__ids") > 1))
    sz: Column = F.size("__ids")
    if hot_cap is not None:
        sz = F.when(
            F.size("__ids") > int(hot_cap),
            F.raise_error(F.concat(
                F.lit("minhash_lsh_pairs: bucket band="),
                F.col("band").cast("string"),
                F.lit(" band_key="), F.col("band_key"),
                F.lit(" has "), F.size("__ids").cast("string"),
                F.lit(f" members, over hot_cap={int(hot_cap)}; its "
                      "pair output is quadratic in bucket size. Use "
                      "minhash_lsh_star_edges (linear output, identical "
                      "connectivity) for clustering, or pass a "
                      "larger/None hot_cap."))).cast("int")).otherwise(
                          F.size("__ids"))
    # the cap is checked once per bucket, where its band key is in scope
    x = lists.select("__ids", sz.alias("__n"),
                     F.posexplode("__ids").alias("__i", "id_a"))
    return (x.select(
        "id_a",
        F.explode(F.slice(F.col("__ids"), F.col("__i") + 2,
                          F.col("__n")))
        .alias("id_b"))
        .distinct())


def minhash_lsh_star_edges(df: DataFrame, text: str = "text",
                           id_col: str = "doc_id", n: int = 3,
                           bands: int = 4,
                           arrow_kernel: bool = True) -> DataFrame:
    """Linear-output LSH dedup edges: per (band, bucket) link every
    member to the bucket MINIMUM id instead of emitting all C(m,2)
    member pairs.  Connectivity — and therefore connected components,
    canonical selection, and every clustering consumer — is IDENTICAL
    to `minhash_lsh_pairs` (a bucket collapses to one component either
    way, and the node set is the same: exactly the members of ≥2-doc
    buckets), but output volume drops from quadratic to linear in
    bucket size.

    Why it exists (r6 sf3 curve): the all-pairs surface grew 8.9× at
    3× data on the open-vocabulary fixtures — boilerplate buckets grow
    superlinearly in any real near-dup corpus, and at 100 TB one
    1M-doc boilerplate bucket is 5·10^11 pairs (unshippable) vs 10^6
    star edges.  Keep `minhash_lsh_pairs` when the pairs THEMSELVES
    are the product (per-pair similarity verification); feed THIS to
    clustering.

    Plan shape: one hash exchange on (band, band_key) for the window
    min (replacing the pairs self-join), then a distinct on the edge —
    both linear in |banded| = bands × n_docs.
    """
    from pyspark.sql import Window

    r = len(MINHASH_PERMS) // bands
    hashed = shingle_hash_frame(df, text, id_col, n)
    banded = (_banded_signatures_arrow(hashed, id_col, bands, r)
              if arrow_kernel else
              _banded_signatures_column(hashed, id_col, bands, r))
    root = F.min(id_col).over(Window.partitionBy("band", "band_key"))
    return (banded.select(root.alias("id_a"),
                          F.col(id_col).alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, text: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = 64,
                        max_df_frac: float | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted
    index, POSTING-LIST form: group the exploded shingles by hash,
    collect the (doc, set-size) posting list per shingle, emit the
    C(len,2) candidate pairs map-side, then count intersections per
    pair.  Two shuffles total (by shingle, by pair) — one fewer than
    the explode-self-join plan, and no join hash build.

    `max_df` is the stop-shingle guard: a posting list longer than
    max_df is boilerplate (license headers, navigation chrome) and is
    DROPPED before pair generation, bounding the per-shingle pair
    fan-out at C(max_df,2) — without it one hot shingle in a
    boilerplate-heavy corpus makes the pair step quadratic.  Dropped
    shingles leave the Jaccard universe entirely: per-doc hot-shingle
    counts (a tiny aggregate over only the hot posting lists,
    broadcast back) correct the set sizes, so the ratio is the true
    Jaccard over the non-stop shingle sets.  Run exact_dedup FIRST —
    a corpus with >max_df verbatim copies of one document would
    otherwise see all its shingles go hot and the cluster vanish.
    `max_df=None` disables the guard.

    `max_df_frac` makes the guard SCALE-INVARIANT: the cutoff becomes
    greatest(max_df, ceil(frac · n_docs)) — the IR stop-word framing
    (a shingle is boilerplate when it appears in a FRACTION of the
    corpus, not a fixed count).  A fixed absolute max_df fails
    asymptotically: growing the corpus grows every shingle's document
    frequency, so at some scale every posting list trips the guard and
    ALL pairs vanish (measured: the sf3 stress corpus returned 0 pairs
    under max_df=64 while sf1 returned 1953).  The cutoff is computed
    IN the plan via a one-row broadcast cross of count(*) — no driver
    action, oracle mirrors it with a scalar subquery.

    KNOWN REGIME LIMIT (measured, SCALE.md §sf3): on a BOUNDED-VOCAB
    corpus the shingle space saturates as the corpus grows — the
    synthetic fixture's 31-word vocabulary fills all 31³ trigrams by
    ~50k docs, after which every shingle's DF is corpus-common (sf3:
    min DF 228 across all 29791 trigrams) and NO cap choice works:
    below min-DF the guard drops everything (0 pairs), above it the
    pair fan-out goes quadratic.  That is signal exhaustion, not a
    tuning problem — rare-shingle Jaccard has no evidence to use.  For
    such corpora use minhash_lsh_pairs, which samples the FULL shingle
    set through the signature instead of relying on rare shingles and
    keeps finding the planted near-dup clusters at every scale.  Real
    web/code corpora have unbounded Zipf vocabularies where the
    fraction guard behaves as intended.

    shingle_hash_frame's Generate barrier keeps the shingle subtree
    out of explode() and size(): without it Catalyst inlines the
    interpreted higher-order folds into every consumer (measured 9×
    slower at sf0.01)."""
    hashed = shingle_hash_frame(df, text, id_col, n)
    sh = hashed.select(F.col(id_col),
                       F.explode("__sh").alias("sh"),
                       F.size("__sh").alias("n_sh"))
    posting = sh.groupBy("sh").agg(
        F.array_sort(F.collect_list(F.struct(id_col, "n_sh"))).alias("ds"))
    if max_df_frac is not None:
        nd = df.agg(F.count("*").alias("__nd"))
        posting = posting.crossJoin(F.broadcast(nd)).withColumn(
            "__cap", F.greatest(
                F.lit(int(max_df or 0)),
                F.ceil(F.col("__nd") * F.lit(max_df_frac)).cast("int")))
    kept = posting.filter(F.size("ds") > 1)
    guarded = max_df is not None or max_df_frac is not None
    if guarded:
        cap = (F.col("__cap") if max_df_frac is not None
               else F.lit(int(max_df)))
        kept = kept.filter(F.size("ds") <= cap)
        # per-doc count of dropped (hot) shingles — rows ∝ docs that
        # contain boilerplate, not corpus size; broadcast-joined back.
        # Lazy localCheckpoint: this frame is consumed by TWO
        # broadcasts (ha, hb) and Catalyst does not reuse the posting
        # subtree across broadcast subplans — without the checkpoint
        # the full scan→shingle→Exchange(sh)→collect_list pipeline ran
        # THREE times per query (r10 plan audit: 0 ReusedExchange).
        # Bounded by the broadcast-size argument that already governs
        # ha/hb (guide §5).
        hot_per_doc = (posting.filter(F.size("ds") > cap)
                       .select(F.explode("ds").alias("d"))
                       .groupBy(F.col(f"d.{id_col}").alias(id_col))
                       .agg(F.count("*").alias("__nhot"))
                       .localCheckpoint(eager=False))
    # pair generation as two native explodes (posexplode → slice →
    # explode): all whole-stage codegen, measured faster than both the
    # interpreted nested-transform and the explode-self-join plans
    x = kept.select("ds", F.posexplode("ds").alias("i", "a"))
    pairs = x.select(
        F.col("a"),
        F.explode(F.slice(F.col("ds"), F.col("i") + 2,
                          F.size("ds"))).alias("b"))
    inter = (pairs.groupBy(F.col(f"a.{id_col}").alias("id_a"),
                           F.col(f"b.{id_col}").alias("id_b"),
                           F.col("a.n_sh").alias("na"),
                           F.col("b.n_sh").alias("nb"))
             .agg(F.count("*").alias("common")))
    if guarded:
        ha = hot_per_doc.select(F.col(id_col).alias("id_a"),
                                F.col("__nhot").alias("__ha"))
        hb = hot_per_doc.select(F.col(id_col).alias("id_b"),
                                F.col("__nhot").alias("__hb"))
        inter = (inter.join(F.broadcast(ha), "id_a", "left")
                 .join(F.broadcast(hb), "id_b", "left")
                 .withColumn("na", F.col("na")
                             - F.coalesce(F.col("__ha"), F.lit(0)))
                 .withColumn("nb", F.col("nb")
                             - F.coalesce(F.col("__hb"), F.lit(0))))
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")).cast("double")
    return (inter.withColumn("jaccard", F.round(jac, 6))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))


def simhash_from_hashes(hashes: Column, bits: int = 32) -> Column:
    """SimHash fingerprint over a (materialized) token-hash array: for
    each bit j, sum ±1 over the hashes' j-th bit; fingerprint bit j = 1
    if the sum is positive.  32 bits keeps every intermediate in int64
    for oracle portability."""

    def bit_vote(j: int) -> Column:
        return F.aggregate(
            hashes, F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j) % 2 == 1, F.lit(1))
               .otherwise(F.lit(-1)))

    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(bit_vote(j) > 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return out


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash straight from text (convenience form)."""
    return simhash_from_hashes(
        F.transform(F.split(F.trim(text), r"\s+"), hash48), bits)


def simhash_sql(col_name: str, bits: int = 32) -> Column:
    """Single-pass SimHash over a MATERIALIZED array column (by name):
    one fold carries all `bits` vote counters in an array accumulator,
    so the hash array is walked once instead of `bits` times — measured
    2× faster than the per-bit folds at sf0.1.  SQL text because the
    shift distance is a lambda variable, which pyspark's Column API
    can't pass to shiftright (int-only parameter)."""
    s = f"sequence(0, {bits - 1})"
    return F.expr(
        f"aggregate(zip_with("
        f"aggregate({col_name}, transform({s}, j -> 0L), "
        f"(acc, h) -> zip_with(acc, {s}, "
        f"(v, j) -> v + IF(shiftright(h, j) % 2 = 1, 1L, -1L))), "
        f"{s}, (v, j) -> IF(v > 0, shiftleft(1L, j), 0L)), "
        f"0L, (a, x) -> a + x)")


def simhash_dup_groups(df: DataFrame, text: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Documents sharing an identical SimHash (hamming distance 0).
    For distance-k matching, index each of the C(bits,k) masked variants
    (standard multi-probe construction) — same groupBy shape.

    Token hashes come from token_hash_frame, whose Generate barrier
    materializes the hash array; the single-pass array-accumulator
    fold (simhash_sql) then walks it exactly once."""
    hashed = token_hash_frame(df, text, id_col) \
        .withColumnRenamed("th", "__th")
    return (hashed.withColumn("simhash", simhash_sql("__th"))
            .groupBy("simhash")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_docs") > 1))


def default_hyperplanes(dim: int, n_planes: int = 16,
                        seed: int = 1) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1) from a 64-bit
    LCG — plan-time double literals, so any engine that inlines them
    (Spark plan, DuckDB oracle) computes bit-identical sign sketches."""
    mask = (1 << 64) - 1
    state = (seed * 6364136223846793005 + 1442695040888963407) & mask
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005
                     + 1442695040888963407) & mask
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def embedding_near_dup_pairs(df: DataFrame, vec: str = "embedding",
                             id_col: str = "vec_id",
                             threshold: float = 0.95,
                             planes: list[list[float]] | None = None,
                             bands: int = 2,
                             exact: bool = False) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Default is banded random-hyperplane LSH: each band of sign bits is
    a bucket key, candidate pairs come from equi-joins on (band,
    bucket) — never an all-pairs compare, so the plan is a shuffle on
    a small int key and survives 100 TB (recall tunes with bands ×
    planes-per-band, the cosine-LSH collision curve (1-θ/π)^r).
    `exact=True` opts into the O(n²) all-pairs baseline — correct for
    small frames and the oracle of record for recall tests.

    `planes=None` derives bands×8 deterministic hyperplanes from the
    embedding dimensionality (one LIMIT-1 probe to read it)."""
    from benthos_spark.llm.similarity import cosine, hyperplane_sketch
    from benthos_spark.operators.scale import ensure_scan_parallelism
    df = ensure_scan_parallelism(df)
    if exact:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec).alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        return (pairs.withColumn(
            "cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))
    if planes is None:
        probe = df.select(F.size(F.col(vec)).alias("d")).limit(1).first()
        if probe is None or probe["d"] is None:  # empty input frame
            spark = df.sparkSession
            return spark.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                    f"id_b {df.schema[id_col].dataType.simpleString()}, "
                    "cos double")
        planes = default_hyperplanes(probe["d"], bands * 8)
    r = len(planes) // bands
    v = df.select(F.col(id_col), F.col(vec))
    buckets = [hyperplane_sketch(vec, planes[b * r:(b + 1) * r])
               for b in range(bands)]
    banded = v.select(F.col(id_col), F.col(vec),
                      F.posexplode(F.array(*buckets)).alias("band",
                                                            "bucket"))

    # Per-bucket vectorized kernel instead of a pair-explode self-join:
    # near-dup corpora put their dense clusters into SHARED buckets, so
    # candidate pairs grow quadratically in cluster density and each
    # pair paid an interpreted 64-term zip_with cosine.  One hash
    # exchange on (band, bucket) + a partition-local sort, then a
    # mapInPandas kernel slices each batch at the group boundaries and
    # computes the whole bucket's cosine matrix in numpy (9× faster at
    # 10× the bench scale).  mapInPandas over sorted partitions
    # replaces groupBy().applyInPandas because the latter pays a
    # per-GROUP Arrow flush + Python invocation — ~3 ms × 500 buckets
    # ≈ 1.5 s of pure overhead at the bench shape, where a boundary
    # slice costs microseconds (guide §4.1: control how often data
    # crosses the boundary).  A group can span Arrow batches, so the
    # kernel buffers the last (possibly incomplete) group of each
    # batch and prepends it to the next — bucket contents, and hence
    # pair sets, are identical to the per-group form.  The dot and
    # norm accumulate dimension-by-dimension left-to-right in float64 —
    # the SQL fold order — and round half-away-from-zero, so results
    # stay bit-identical to the DuckDB oracle (semantic_dedup's proven
    # kernel shape).  Blocked over rows to bound the matrix to ~64 MB
    # for boilerplate-sized buckets.
    def run(batches):
        import numpy as np
        import pandas as pd

        def per_bucket(ids_raw, vecs):
            order = np.argsort(ids_raw, kind="stable")
            ids = ids_raw[order]
            n = len(ids)
            if n < 2:
                return None
            X = np.array([np.asarray(x, dtype=np.float64)
                          for x in vecs[order]])
            dims = X.shape[1]
            s = np.zeros(n)
            for j in range(dims):
                s += X[:, j] * X[:, j]
            nrm = np.sqrt(s)
            out_a, out_b, out_c = [], [], []
            block = max(1, (8 << 20) // max(n, 1))
            for i0 in range(0, n, block):
                xa = X[i0:i0 + block]
                D = np.zeros((len(xa), n))
                for j in range(dims):  # left-to-right fold per element
                    D += np.outer(xa[:, j], X[:, j])
                cos = D / np.outer(nrm[i0:i0 + block], nrm)
                cos = np.trunc(cos * 1e6 + np.sign(cos) * 0.5) / 1e6
                rows, cols = np.nonzero(cos >= threshold)
                keep = (rows + i0) < cols  # id_a < id_b, self excluded
                out_a.append(ids[rows[keep] + i0])
                out_b.append(ids[cols[keep]])
                out_c.append(cos[rows[keep], cols[keep]])
            return (np.concatenate(out_a), np.concatenate(out_b),
                    np.concatenate(out_c))

        buf = None
        acc: list = []

        def flush(pdf, s, e):
            r = per_bucket(pdf[id_col].to_numpy()[s:e],
                           pdf[vec].to_numpy()[s:e])
            if r is not None and len(r[0]):
                acc.append(r)

        def emit():
            if not acc:
                return pd.DataFrame({"id_a": [], "id_b": [],
                                     "cos": []})
            out = pd.DataFrame(
                {"id_a": np.concatenate([a for a, _, _ in acc]),
                 "id_b": np.concatenate([b for _, b, _ in acc]),
                 "cos": np.concatenate([c for _, _, c in acc])})
            acc.clear()
            return out

        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
                buf = None
            if not len(pdf):
                continue
            gb = pdf["band"].to_numpy()
            gk = pdf["bucket"].to_numpy()
            change = np.flatnonzero((gb[1:] != gb[:-1])
                                    | (gk[1:] != gk[:-1])) + 1
            starts = np.concatenate(([0], change)).astype(np.int64)
            for s, e in zip(starts[:-1], starts[1:]):
                flush(pdf, s, e)
            buf = pdf.iloc[starts[-1]:]  # last group may continue
            yield emit()
        if buf is not None and len(buf):
            flush(buf, 0, len(buf))
            yield emit()

    id_t = df.schema[id_col].dataType.simpleString()
    pairs = (banded.repartition("band", "bucket")
             .sortWithinPartitions("band", "bucket")
             .mapInPandas(run,
                          schema=f"id_a {id_t}, id_b {id_t}, cos double"))
    # a pair colliding in BOTH bands appears twice with the same cosine
    return pairs.distinct()


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 50) -> DataFrame:
    """Collapse near-dup candidate pairs into duplicate CLUSTERS:
    (node, component) where component = min node id reachable through
    the pair graph.  The canonical doc to keep per cluster is the
    component id itself.

    Min-label rounds from the Shiloach-Vishkin family (FastSV, Zhang,
    Azad & Hu 2020).  Every node u carries a label lab(u), its parent:
    a node of its own component, never above u.  Every round has the
    same shape, over each directed edge (u, v):

      shortcut   read v's label two hops up, g(v) = lab(lab(v));
      propagate  u takes the minimum over lab(u) and every g(v);
      hook       every g(v) is also sent to u's parent lab(u).

    Three joins of the checkpointed edges and labels feed one
    groupBy(key).min over the rows (u, g(v)), (lab(u), g(v)) and
    (u, lab(u)).  Reading g(v) in the join chain applies the shortcut
    without a self-join of the round's own aggregate, which would
    compute the round twice.  Hooking moves whole trees under smaller
    roots and shortcutting halves their depth, so even a path whose
    ids are in random order resolves in O(log n) rounds (measured: 8,
    13, 16 and 19 rounds at 120, 2 000, 20 000 and 100 000 nodes),
    where min-label propagation needs up to diameter rounds.  Labels stay within their component and only decrease, so
    the fixpoint is the min reachable id.  The first round is the same
    rule with lab = id, which needs no join.  A node whose only edge
    is a self-loop keeps itself as component.

    Scale notes: labels only ever decrease, so convergence is detected
    by comparing sum(label) between rounds, an O(1)-result aggregate
    that rides the round's eager-checkpoint job as an `observe` metric:
    one job per round.  localCheckpoint truncates lineage each round so
    the plan stays O(1) deep, but it keeps the checkpointed plan's size
    estimate, and the optimizer estimates a join's size as the product
    of its inputs' sizes, so an iterative join loop roughly squares the
    estimate every round (bit lengths 508, 1140, 2403, 4930, 9983 over
    five rounds) until planning stalls in BigInteger arithmetic.  Once
    the carried estimate passes 2^63 bytes the labels are re-wrapped
    without it (Spark's unknown-size default): above that size every
    planning decision already treats the input as too big to
    broadcast, so no plan changes.

    If the loop falls off max_iter without reaching the sum fixpoint,
    the labels are upper bounds, not components: warn loudly.
    """
    import warnings

    from pyspark.sql import Observation

    spark = edges.sparkSession
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(sym.select("v", "u"))  # unions are positional
    sym = sym.localCheckpoint(eager=True)  # reused every round
    labels = None
    prev_sum = None
    for _ in range(max_iter):
        if labels is None:
            prop = sym.groupBy("u").agg(F.min(F.least("u", "v")).alias("lab"))
        else:
            # per edge (u, v): a.lab = lab(v), b.lab = g(v), c.lab =
            # lab(u); unprojected, the three lookups share one exchange
            prop = (sym.alias("e")
                    .join(labels.alias("a"), F.col("e.v") == F.col("a.u"))
                    .join(labels.alias("b"), F.col("a.lab") == F.col("b.u"))
                    .join(labels.alias("c"), F.col("e.u") == F.col("c.u"))
                    .selectExpr("inline(array("
                                "named_struct('u', e.u, 'g', b.lab), "
                                "named_struct('u', c.lab, 'g', b.lab), "
                                "named_struct('u', e.u, 'g', c.lab)))")
                    .groupBy("u").agg(F.min("g").alias("lab")))
        obs = Observation()
        labels = (prop.observe(obs, F.sum(F.col("lab").cast("decimal(38,0)"))
                               .alias("s"))
                  .localCheckpoint(eager=True))
        jdf = labels._jdf
        if jdf.queryExecution().optimizedPlan().stats().sizeInBytes() \
                .bit_length() > 63:
            labels = DataFrame(spark._jsparkSession.createDataFrame(
                jdf.rdd(), jdf.schema()), spark)
        # labels only decrease, so an unchanged sum is the fixpoint;
        # a NULL sum means no edges
        cur_sum = obs.get["s"]
        if cur_sum is None or cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} "
            "without reaching the label fixpoint: returned labels "
            "are upper bounds, NOT components; raise max_iter",
            RuntimeWarning, stacklevel=2)
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("lab").alias("component"))


def exact_substring_pairs(df: DataFrame, text: str = "text",
                          id_col: str = "doc_id", k: int = 20,
                          max_df: int | None = 16,
                          arrow_kernel: bool = True) -> DataFrame:
    """Exact-substring overlap pairs (the Lee et al. 'Deduplicating
    Training Data' suffix-array family, re-expressed for Spark): two
    documents pair when they share at least one contiguous run of `k`
    tokens verbatim; `n_shared` counts the distinct shared k-gram
    starts, a length proxy for the overlap.

    Plan shape (the posting-list idiom of ngram_jaccard_pairs, not a
    suffix array — sorting 100 TB of suffixes is exactly the global
    sort this engine refuses): per-doc DISTINCT k-gram hashes (48-bit
    md5 — codegen'd, 8 bytes each), posting list per gram, pair
    fan-out bounded by the `max_df` stop-gram guard (license
    boilerplate would otherwise go quadratic), then one count per
    pair.  Two shuffles total.  With k ≈ 20-50 a shared gram IS a
    long verbatim overlap; hash collisions are the same accepted
    48-bit risk the decontamination op documents.

    arrow_kernel=True (default) builds the distinct per-doc k-gram
    hashes in one mapInPandas pass (llm.grams.gram_hash_stream with
    per_doc_distinct) — bit-identical to the Column path AND one fewer
    shuffle: the per-doc set replaces the `.distinct()` exchange, since
    mapInPandas never splits a document across batches."""
    if arrow_kernel:
        from benthos_spark.llm.grams import gram_hash_stream
        grams = gram_hash_stream(df, text, id_col, n=k,
                                 per_doc_distinct=True)
    else:
        from benthos_spark.llm.text import materialize_cols, tokens, \
            word_ngrams
        from benthos_spark.operators.scale import ensure_scan_parallelism
        toks = materialize_cols(
            ensure_scan_parallelism(df.select(F.col(id_col), F.col(text))),
            __toks=tokens(F.col(text)))
        grams = (toks.select(F.col(id_col),
                             F.explode(word_ngrams(F.col("__toks"), k))
                             .alias("g"))
                 .select(F.col(id_col), hash48(F.col("g")).alias("gh"))
                 .distinct())
    posting = (grams.groupBy("gh")
               .agg(F.array_sort(F.collect_list(F.col(id_col)))
                    .alias("ds"))
               .filter(F.size("ds") > 1))
    if max_df is not None:
        posting = posting.filter(F.size("ds") <= max_df)
    x = posting.select("ds", F.posexplode("ds").alias("i", "a"))
    pairs = x.select(
        F.col("a"),
        F.explode(F.slice(F.col("ds"), F.col("i") + 2,
                          F.size("ds"))).alias("b"))
    return (pairs.groupBy(F.col("a").alias("id_a"),
                          F.col("b").alias("id_b"))
            .agg(F.count("*").alias("n_shared")))


def ngram_contamination(train: DataFrame, eval_df: DataFrame,
                        text: str = "text", id_col: str = "doc_id",
                        n: int = 5,
                        arrow_kernel: bool = True) -> DataFrame:
    """Eval-set decontamination (the GPT-3 appendix-C / Llama recipe):
    flag training documents that share any word n-gram with a held-out
    benchmark corpus, so they can be dropped before pretraining.

    Grams are hashed to 48 bits (md5 prefix, whole-stage codegen) so
    the eval side is 8 bytes per distinct gram — a full benchmark
    suite (~10^6 grams) broadcasts at ~8 MB to every executor.  The
    100 TB train side is then a map-only scan + broadcast hash
    semi-join: no shuffle of the corpus, filter evaluated at the scan.
    Returns (doc_id, n_shared_grams) for contaminated docs only.

    arrow_kernel=True (default) hashes grams in one mapInPandas pass
    per side (llm.grams.gram_hash_stream) — same 48-bit values, no
    interpreted per-gram lambdas."""
    from benthos_spark.llm.text import materialize_cols, tokens, word_ngrams

    def gram_hashes(df: DataFrame) -> DataFrame:
        if arrow_kernel:
            from benthos_spark.llm.grams import gram_hash_stream
            return gram_hash_stream(df, text, id_col, n=n)
        toks = materialize_cols(df.select(F.col(id_col), F.col(text)),
                                __toks=tokens(F.col(text)))
        return (toks.select(
            F.col(id_col),
            F.explode(word_ngrams(F.col("__toks"), n)).alias("g"))
            .select(id_col, hash48(F.col("g")).alias("gh")))

    ev = gram_hashes(eval_df).select("gh").distinct()
    return (gram_hashes(train)
            .join(F.broadcast(ev), "gh")
            .groupBy(id_col)
            .agg(F.countDistinct("gh").alias("n_shared_grams")))


def semantic_dedup(df: DataFrame, centroids: list[list[float]],
                   vec: str = "embedding", id_col: str = "vec_id",
                   threshold: float = 0.95) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 §3): cluster
    embeddings with spherical k-means, compare pairs ONLY within each
    cluster, and greedily drop every document whose cosine to a
    lower-id cluster-mate reaches the threshold.

    Returns the DROPPED docs: (id_col, cluster, dup_of, max_cos) with
    dup_of = the smallest keeper it duplicates.  Dedup = anti-join the
    corpus against this frame.

    Scale shape: centroid assignment is flat codegen'd arithmetic
    (no model object — the literals ship with the plan, exactly the
    IVF coarse-quantizer trick); the only shuffle is the equi-join on
    the int cluster id, and the pairwise fan-out is bounded per
    cluster — the paper's reason for clustering first.  k SCALES WITH
    THE CORPUS by default: similarity.semdedup_params gives
    k = ceil(n / target_cluster_size), so expected cluster size is a
    constant and the pairwise pass is O(target·n) — linear — at any
    scale; residual oversized clusters can additionally be re-bucketed
    with hyperplane LSH (embedding_near_dup_pairs) without changing
    this plan's shape.
    """
    from benthos_spark.llm.similarity import _assign_corpus_flat
    from benthos_spark.operators.scale import ensure_scan_parallelism

    df = ensure_scan_parallelism(df)
    assigned = (_assign_corpus_flat(df.select(id_col, vec), centroids,
                                    vec)
                .withColumnRenamed("__list", "cluster"))

    # Within-cluster compare as a per-cluster Arrow kernel: one
    # groupBy shuffle on the int cluster id, then a vectorized numpy
    # pairwise pass per group (the paper's own implementation shape) —
    # a pair-explode self-join would evaluate the interpreted
    # zip_with/aggregate lambdas per pair, ~50× slower.
    #
    # Two-phase scoring keeps DuckDB-oracle bit-parity WITHOUT paying
    # an O(dim) python loop of n×n outer products (which is O(dim·n²)
    # memory traffic — the old kernel spent seconds per 2500-row
    # cluster just streaming 50 MB temporaries):
    #   1. PREFILTER — a row-blocked BLAS matmul finds every pair
    #      whose cosine could possibly round to >= threshold.  BLAS
    #      sums in a different (pairwise/blocked) order, so its value
    #      can differ from the SQL fold by ~1e-15; half-ulp rounding
    #      moves a value by <= 0.5e-6, so a guard band of 2e-6 below
    #      the threshold provably over-captures every true hit.
    #   2. RESCORE — only the candidate pairs are re-accumulated
    #      dimension-by-dimension LEFT-TO-RIGHT in float64, exactly
    #      the SQL fold order (vectorized over the pair axis), so the
    #      emitted cosines and the >= decision stay bit-identical to
    #      the DuckDB oracle; rounding is half-away-from-zero like
    #      both engines.
    def per_cluster(key, pdf):
        import numpy as np
        import pandas as pd
        empty = pd.DataFrame({id_col: [], "cluster": [],
                              "dup_of": [], "max_cos": []})
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        X = np.array([np.asarray(v, dtype=np.float64)
                      for v in pdf[vec].to_numpy()[order]])
        n = len(ids)
        if n < 2:
            return empty
        s = np.zeros(n)
        for j in range(X.shape[1]):  # left-to-right norm fold
            s += X[:, j] * X[:, j]
        nrm = np.sqrt(s)
        # |BLAS cos − LTR cos| <~1e-13 and half-ulp rounding moves a
        # value by <=0.5e-6, so 1e-6 bounds |rounded-LTR − BLAS| and a
        # 2e-6 margin provably over-captures argmax candidates.
        band = 1e-6
        thr = threshold
        BIG = n + 1
        col_min_row = np.full(n, BIG)       # first DEFINITE hit row/col
        col_max_m = np.full(n, -np.inf)     # max BLAS cos among possible
        rs_i, rs_j, rs_m = [], [], []       # pairs needing exact rescore
        cols = np.arange(n)
        # bound the materialized slab at ~64 MB
        block = int(max(256, min(2048, (64 << 20) // (8 * n))))
        with np.errstate(divide="ignore", invalid="ignore"):
            for r0 in range(0, n - 1, block):
                r1 = min(r0 + block, n)
                C = (X[r0:r1] @ X.T) / np.outer(nrm[r0:r1], nrm)
                # upper triangle only (col j > global row i); NaN
                # (zero-norm rows) can never hit, like the old kernel
                C = np.where((cols[None, :] > np.arange(r0, r1)[:, None])
                             & ~np.isnan(C), C, -np.inf)
                deff = C >= thr + band      # hit regardless of fold
                poss = C >= thr - band      # could round to >= thr
                has = deff.any(axis=0)
                first = np.where(has, r0 + deff.argmax(axis=0), BIG)
                col_min_row = np.minimum(col_min_row, first)
                Cp = np.where(poss, C, -np.inf)
                bm = Cp.max(axis=0)
                col_max_m = np.maximum(col_max_m, bm)
                # rescore set: boundary-ambiguous membership pairs +
                # per-column argmax candidates (within 2·band of the
                # block max — filtered against the global max below)
                need = poss & (~deff | (C >= (bm - 2 * band)[None, :]))
                bi, bj = np.nonzero(need)
                rs_i.append(bi + r0)
                rs_j.append(bj)
                rs_m.append(C[need])
        if not rs_i:
            return empty
        pi = np.concatenate(rs_i)
        pj = np.concatenate(rs_j)
        pm = np.concatenate(rs_m)
        # keep ambiguous pairs and pairs still within 2·band of the
        # GLOBAL per-column max (block-local candidates that lost out
        # to another block's max are dropped here)
        keep_rs = (pm < thr + band) | (pm >= col_max_m[pj] - 2 * band)
        pi, pj = pi[keep_rs], pj[keep_rs]
        if not len(pi):
            return empty
        # exact left-to-right dot fold over just the rescored pairs —
        # identical accumulation order to the SQL oracle
        dot = np.zeros(len(pi))
        A, B = X[pi], X[pj]
        for d in range(X.shape[1]):
            dot += A[:, d] * B[:, d]
        with np.errstate(divide="ignore", invalid="ignore"):
            cosx = dot / (nrm[pi] * nrm[pj])
        cosx = np.trunc(cosx * 1e6 + np.sign(cosx) * 0.5) / 1e6
        hit = cosx >= thr
        hi, hj, hc = pi[hit], pj[hit], cosx[hit]
        # per-column combine: membership = definite ∨ rescored hit;
        # dup_of = min row over both; max_cos = max exact over the
        # rescored hits (the true argmax pair is provably rescored)
        min_row = col_min_row.copy()
        np.minimum.at(min_row, hj, hi)
        max_cos = np.full(n, -np.inf)
        np.maximum.at(max_cos, hj, hc)
        out = np.nonzero(min_row < BIG)[0]
        if not len(out):
            return empty
        return pd.DataFrame({
            id_col: ids[out],
            "cluster": [int(key[0])] * len(out),
            "dup_of": ids[min_row[out]],
            "max_cos": max_cos[out]})

    id_t = df.schema[id_col].dataType.simpleString()
    return (assigned.groupBy("cluster")
            .applyInPandas(per_cluster,
                           schema=f"`{id_col}` {id_t}, cluster int, "
                                  f"dup_of {id_t}, max_cos double"))


def paragraph_dedup(df: DataFrame, text: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """CCNet-style paragraph-level dedup (Wenzek et al. 2019,
    arXiv:1911.00359 §3.1): hash every paragraph, keep only its FIRST
    corpus-wide occurrence (smallest (doc_id, position) wins), and
    rewrite each document from its surviving paragraphs.  Empty lines
    are dropped, matching CCNet's newline-paragraph model.

    Returns (id_col, n_paras, n_kept, dedup_text).

    Scale shape: posexplode → md5 → ONE window shuffle on the 16-byte
    paragraph hash picks winners, one groupBy on the doc id
    reassembles.  No joins; both shuffles key on compact values.  The
    window's per-hash groups are the duplicate sets themselves, so
    skew equals the corpus's worst boilerplate — exactly what the
    operator exists to remove."""
    from pyspark.sql import Window

    from benthos_spark.operators.scale import ensure_scan_parallelism

    df = ensure_scan_parallelism(df)
    paras = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text), "\n"))
                       .alias("idx", "para"))
             .filter(F.trim(F.col("para")) != "")
             .withColumn("__h", F.md5(F.col("para"))))
    w = Window.partitionBy("__h").orderBy(F.col(id_col), F.col("idx"))
    marked = paras.withColumn("__keep",
                              F.row_number().over(w) == F.lit(1))
    return (marked.groupBy(id_col)
            .agg(F.count("*").alias("n_paras"),
                 F.sum(F.col("__keep").cast("long")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("__keep"),
                                    F.struct("idx", "para")))),
                         lambda s: s["para"]),
                     "\n").alias("dedup_text")))


# ------------------------------------------------------------ bloom

def bloom_positions(gram: Column, m: int, k: int) -> Column:
    """k bit positions in [0, m) for one n-gram — k independent
    md5-derived hashes (salted by probe index).  Engine-portable and
    codegen-able; the classic Bloom construction with explicit salts
    instead of the two-hash Kirsch-Mitzenmacher trick so the oracle
    SQL is a literal mirror."""
    return F.array(*[
        hash48(F.concat(F.lit(f"bl{i}#"), gram)) % m for i in range(k)])


def bloom_build(reference: DataFrame, text: str = "text",
                n: int = 5, m: int = 1 << 18, k: int = 3,
                arrow_kernel: bool = True) -> DataFrame:
    """Build the Bloom set from a reference corpus: the DISTINCT bit
    positions of every word n-gram.  ≤ m rows regardless of reference
    size — the membership structure is space-bounded by construction
    (that's the point of a Bloom filter), so it broadcasts at ≤ 8·m
    bytes even for a reference of billions of grams.

    arrow_kernel=True (default) computes grams + the k salted hashes in
    one mapInPandas pass with per-batch position dedup
    (llm.grams.bloom_position_stream) — the final distinct shuffles
    ≤ m rows per batch instead of the k·grams stream."""
    if arrow_kernel:
        from benthos_spark.llm.grams import bloom_position_stream
        return bloom_position_stream(reference, text, n, m, k)
    from benthos_spark.llm.text import materialize_cols, tokens, word_ngrams

    t = materialize_cols(reference.select(F.col(text)),
                         __toks=tokens(F.col(text)))
    grams = t.select(F.explode(word_ngrams(F.col("__toks"), n)).alias("g"))
    return (grams.select(F.explode(bloom_positions(F.col("g"), m, k))
                         .alias("pos"))
            .distinct())


def bloom_contaminated(corpus: DataFrame, reference: DataFrame,
                       text: str = "text", id_col: str = "doc_id",
                       n: int = 5, m: int = 1 << 18,
                       k: int = 3, arrow_kernel: bool = True) -> DataFrame:
    """Approximate decontamination via a Bloom filter: flag corpus
    documents with any word n-gram whose k bloom bits are ALL set by
    the reference corpus (false positives at the classic
    (1-e^{-kn/m})^k rate, zero false negatives).

    Use over `ngram_contamination` when the reference gram set is too
    large to broadcast exactly: the bloom set is capped at m positions
    (m = 2^18 → 2 MB broadcast) no matter how many grams the
    reference holds.  Scale shape: corpus side is a map-only scan —
    the 100 TB corpus never shuffles.

    arrow_kernel=True (default) collects the ≤ m bloom positions to the
    driver (bounded by the filter width by construction — the same
    argument as the IVF centroid literals) and broadcasts them as a
    Python frozenset into ONE mapInPandas pass that builds grams,
    hashes the k probes, and counts flagged grams per doc
    (llm.grams.bloom_flag_counts) — no explode, no join, no per-doc
    hash-agg; only flagged docs are even emitted.  The Column fallback
    keeps the explode → broadcast-semi-join → two-hash-agg plan.

    Returns (id_col, n_flagged_grams) for flagged docs only."""
    bloom = bloom_build(reference, text, n, m, k,
                        arrow_kernel=arrow_kernel)
    if arrow_kernel:
        from benthos_spark.llm.grams import bloom_flag_counts
        pos = frozenset(r["pos"] for r in bloom.collect())
        bc = corpus.sparkSession.sparkContext.broadcast(pos)
        return bloom_flag_counts(corpus, bc, text, id_col, n, m, k)
    from benthos_spark.llm.text import materialize_cols, tokens, word_ngrams

    t = materialize_cols(corpus.select(F.col(id_col), F.col(text)),
                         __toks=tokens(F.col(text)))
    probes = (t.select(
        F.col(id_col),
        F.posexplode(word_ngrams(F.col("__toks"), n)).alias("gi", "g"))
        .select(id_col, "gi",
                F.explode(bloom_positions(F.col("g"), m, k)).alias("pos")))
    # gram flagged ⟺ all k of its positions are present in the bloom set
    hits = (probes.join(F.broadcast(bloom), "pos")
            .groupBy(id_col, "gi")
            .agg(F.count("*").alias("__k_hits"))
            .filter(F.col("__k_hits") == k))
    return hits.groupBy(id_col).agg(F.count("*").alias("n_flagged_grams"))


def canonical_selection(docs: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id",
                        quality_col: str = "n_chars") -> DataFrame:
    """End-to-end dedup verdict: candidate pairs → connected components
    → keep the best document per cluster (highest `quality_col`,
    ties to the smallest id).  The standard last stage of a corpus
    dedup pipeline — every doc gets (component, is_canonical) so the
    cleaned corpus is `WHERE is_canonical = 1`.

    Scale shape: the expensive work (pair generation, CC) runs on the
    CANDIDATE subgraph only (≪ corpus); cluster members join their
    quality back via one broadcast (cluster membership is small by the
    same argument), the canonical window partitions by component over
    members only, and the untouched 99% of the corpus is a map-only
    left join against the broadcast verdicts — the 100 TB side never
    shuffles."""
    from pyspark.sql import Window

    comp = connected_components(pairs)
    members = (docs.select(F.col(id_col), F.col(quality_col))
               .join(F.broadcast(comp), id_col))
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col))
    verdict = members.select(
        id_col, "component",
        (F.row_number().over(w) == 1).cast("int").alias("is_canonical"))
    return (docs.select(F.col(id_col))
            .join(F.broadcast(verdict), id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("component"),
                               F.col(id_col)).alias("component"),
                    F.coalesce(F.col("is_canonical"),
                               F.lit(1)).alias("is_canonical")))
