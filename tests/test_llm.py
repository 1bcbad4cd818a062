"""LLM-pipeline operator tests: dedup family, similarity, text analysis."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from benthos_spark.llm.dedup import (embedding_near_dup_pairs, exact_dedup,
                                     minhash_lsh_pairs, ngram_jaccard_pairs,
                                     simhash_dup_groups, word_shingles)
from benthos_spark.llm.similarity import brute_force_topk, cosine
from benthos_spark.llm.text import (fingerprint, lang_id, quality_score,
                                    stopword_ratio, token_count)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),        # near dup of 1
    (4, "completely different content about spark engines"),
    (5, "el rapido zorro marron salta sobre el perro y la casa de la madre"),
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id INT, text STRING")


def test_exact_dedup(spark):
    out = exact_dedup(docs_df(spark)).collect()
    got = {r.doc_id: r.n_copies for r in out}
    assert got[1] == 2          # doc 2 collapsed into doc 1 (min id wins)
    assert 2 not in got
    assert got[3] == 1 and got[4] == 1


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("a b",)], "text STRING")
    got = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()[0].s
    assert got == ["a b"]       # shorter than n → whole doc as one shingle


def test_ngram_jaccard_finds_near_dups_only(spark):
    out = ngram_jaccard_pairs(docs_df(spark), threshold=0.5).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_candidates(spark):
    out = minhash_lsh_pairs(docs_df(spark)).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in pairs            # identical docs always collide
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_groups_exact_dups(spark):
    out = simhash_dup_groups(docs_df(spark)).collect()
    assert len(out) == 1
    assert out[0].n_docs == 2 and out[0].keep_id == 1


def test_cosine_and_topk(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>")
    got = emb.filter("vec_id = 1").select(
        cosine(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0)))
        .alias("c")).collect()[0].c
    assert math.isclose(got, 1.0)

    q = emb.filter("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = brute_force_topk(emb, q, k=2, exclude_self=True).collect()
    ranked = [(r.vec_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(2, 1), (3, 2)]


def test_ngram_jaccard_stop_shingle_guard(spark):
    """Boilerplate-heavy corpus: a shared header puts its shingles over
    max_df, so they are dropped before pair generation (bounding the
    hot-key fan-out) AND removed from both set sizes — the one true
    near-dup pair keeps Jaccard 1.0 over the residual shingle sets,
    and the 100 boilerplate-only docs produce no pairs at all."""
    from benthos_spark.llm.dedup import ngram_jaccard_pairs
    boiler = "terms of service apply to all content on this site"
    rows = [(i, f"{boiler} unique body {i} alpha beta gamma delta")
            for i in range(100)]
    dup = boiler + " identical payload xyzzy one two three four five"
    rows += [(1000, dup), (1001, dup)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = ngram_jaccard_pairs(df, threshold=0.5, max_df=20).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert got == {(1000, 1001): 1.0}


def test_embedding_near_dup_pairs(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.14]), (3, [0.0, 1.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>")
    out = embedding_near_dup_pairs(emb, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    exact = embedding_near_dup_pairs(emb, threshold=0.9,
                                     exact=True).collect()
    assert [(r.id_a, r.id_b) for r in exact] == [(1, 2)]


def test_embedding_near_dup_bucketed_plan_and_recall(spark):
    """Default path must be an equi-join on LSH buckets (no cartesian
    product in the physical plan) and still find true high-cosine
    near-dups — LSH collision prob at cos≈0.99 per 8-plane band is
    (1-θ/π)^8 ≈ 0.78, two bands ≈ 0.95, and exact duplicates always
    share every bucket."""
    import math
    rows = []
    for i in range(40):
        a = [math.cos(i * 0.37), math.sin(i * 0.37), 0.1 * (i % 5), 1.0]
        rows.append((2 * i, a))
        rows.append((2 * i + 1, list(a)))  # exact duplicate partner
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = embedding_near_dup_pairs(emb, threshold=0.999999)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r.id_a, r.id_b) for r in out.collect()}
    # identical vectors collide in every band: all 40 pairs found
    assert {(2 * i, 2 * i + 1) for i in range(40)} <= got


def test_text_analysis(spark):
    df = docs_df(spark)
    row = df.filter("doc_id = 1").select(
        token_count(F.col("text")).alias("n"),
        stopword_ratio(F.col("text")).alias("sw"),
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang")).collect()[0]
    assert row.n == 9
    assert math.isclose(row.sw, 2 / 9)   # 'the' twice
    assert row.q == 1.0
    assert row.lang == "en"
    es = df.filter("doc_id = 5").select(
        lang_id(F.col("text")).alias("lang")).collect()[0]
    assert es.lang == "es"


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("a b c",), ("c b a",)], "text STRING")
    got = [r.f for r in
           df.select(fingerprint(F.col("text")).alias("f")).collect()]
    assert got[0] != got[1]        # reordering changes the fingerprint


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from benthos_spark.llm.similarity import (brute_force_topk, ivf_topk,
                                              train_ivf_centroids)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_centroids=8, sample=512, iters=5)
    assert len(cents) == 8
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(emb, queries, k=10).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in ivf_topk(emb, queries, cents, k=10,
                                n_probe=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"
    # determinism: same build → identical result set
    approx2 = {(r.query_id, r.vec_id)
               for r in ivf_topk(emb, queries, cents, k=10,
                                 n_probe=3).collect()}
    assert approx == approx2


def test_pii_scrub_redacts_all_categories(spark):
    from benthos_spark.llm.text import pii_counts, scrub_pii
    df = spark.createDataFrame(
        [("reach me: bob@x.io or +1 555 123 4567, "
          "ip 192.168.0.1 card 4111 1111 1111 1111",)], "t STRING")
    out = df.select(scrub_pii(F.col("t")).alias("s"),
                    *[v.alias(k) for k, v in
                      pii_counts(F.col("t")).items()]).collect()[0]
    assert "<EMAIL>" in out.s and "<IP>" in out.s
    assert "<PHONE>" in out.s and "<CC>" in out.s
    assert "bob@" not in out.s and "4111" not in out.s
    assert out.email == 1 and out.ipv4 == 1 and out.cc == 1


def test_connected_components_chain_and_clique(spark):
    from benthos_spark.llm.dedup import connected_components
    # chain 1-2-3-4-5 (diameter 4, worst case for label propagation),
    # clique {10,11,12}, isolated edge 20-21 given twice, and node 30
    # whose only edge is a self-loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21), (21, 20), (30, 30)], "id_a LONG, id_b LONG")
    got = [(r.doc_id, r.component)
           for r in connected_components(edges).collect()]
    assert len(got) == 11
    assert dict(got) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                         10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}


def test_connected_components_iteration_cap(spark):
    from benthos_spark.llm.dedup import connected_components
    # max_iter too small for the diameter → labels only partially
    # propagated, but still a valid partial refinement (monotone)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a LONG, id_b LONG")
    got = {r.doc_id: r.component
           for r in connected_components(edges, max_iter=1).collect()}
    assert got[2] == 1 and got[1] == 1


def test_repetition_signals(spark):
    from benthos_spark.llm.text import repetition_signals
    df = spark.createDataFrame(
        [(1, "a b\na b\nc d"),          # 1 dup line of 3
         (2, "x y x y x y"),            # "x y" dominates bigrams
         (3, ""),                       # degenerate
         (4, "all distinct lines here")],
        "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert abs(out[1].dup_line_frac - 1 / 3) < 1e-6
    # "x y x y x y": bigrams = [x y, y x, x y, y x, x y] → top = 3/5
    assert abs(out[2].top_2gram_frac - 0.6) < 1e-6
    assert out[3].dup_line_frac == 0.0 and out[3].top_3gram_frac == 0.0
    assert out[4].dup_line_frac == 0.0


def test_stratified_sample_deterministic_and_rate(spark):
    from benthos_spark.llm.sampling import stratified_sample
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"))
    out = stratified_sample(df, {"a": 0.5, "b": 0.0})
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in
                  stratified_sample(df.repartition(7),
                                    {"a": 0.5, "b": 0.0}).collect())
    assert ids1 == ids2, "must be invariant to partitioning"
    assert all(i % 2 == 0 for i in ids1), "stratum b rate 0"
    assert 400 <= len(ids1) <= 600, f"~50% of 1000: {len(ids1)}"
    # salt change → an independent draw
    ids3 = sorted(r.doc_id for r in
                  stratified_sample(df, {"a": 0.5, "b": 0.0},
                                    salt="s2").collect())
    assert ids3 != ids1


def test_ngram_contamination(spark):
    from benthos_spark.llm.dedup import ngram_contamination
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id LONG, text STRING")
    tr = spark.createDataFrame(
        [(1, "xx the quick brown fox jumps yy"),  # shares 1 5-gram
         (2, "totally unrelated text about something else entirely"),
         (3, "short")],
        "doc_id LONG, text STRING")
    got = {r.doc_id: r.n_shared_grams
           for r in ngram_contamination(tr, ev, n=5).collect()}
    assert got == {1: 1}


def test_pack_sequences_matches_python_model(spark):
    import hashlib
    from benthos_spark.llm.packing import pack_sequences
    rows = [(i, " ".join(["w"] * (10 + 7 * i))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: (r.shard, r.pack_id, r.pack_offset)
           for r in pack_sequences(df, ctx_len=64, n_shards=4).collect()}

    def h48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
    by_shard = {}
    for i, text in rows:
        by_shard.setdefault(h48(str(i)) % 4, []).append(
            (h48(str(i)), i, len(text.split())))
    exp = {}
    for shard, docs in by_shard.items():
        cum = 0
        for _, i, ntok in sorted(docs):
            exp[i] = (shard, shard * (2 ** 40) + cum // 64, cum % 64)
            cum += ntok
    assert got == exp


def test_temperature_rates_waterfilling():
    from benthos_spark.llm.sampling import temperature_rates
    counts = {"big": 1000, "tiny": 10}
    # alpha 0 → equal target shares; tiny can't supply 252 rows, so it
    # caps at 1.0 and the remaining budget waterfills into big
    rates = temperature_rates(counts, alpha=0.0, target_fraction=0.5)
    assert rates["tiny"] == 1.0
    assert abs(rates["big"] - 0.495) < 1e-6
    total = sum(rates[d] * counts[d] for d in counts)
    assert abs(total - 0.5 * 1010) < 1e-3
    # alpha 1 → proportional sampling == flat rate everywhere
    flat = temperature_rates(counts, alpha=1.0, target_fraction=0.25)
    assert all(abs(r - 0.25) < 1e-6 for r in flat.values())
    assert temperature_rates({}, 0.5, 0.5) == {}


def test_temperature_sample_shares(spark):
    """alpha < 1 up-weights the small domain relative to its corpus
    share; the sampled total tracks the target fraction."""
    from benthos_spark.llm.sampling import temperature_sample
    rows = [(i, "big" if i < 1800 else "small", f"t{i}")
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    out = temperature_sample(df, alpha=0.3, target_fraction=0.4)
    got = {r.source: r.n for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    total = sum(got.values())
    assert abs(total - 800) < 80  # ~target_fraction of 2000
    # corpus share of small is 10%; alpha=0.3 caps it at rate 1.0 →
    # its sampled share rises to ~25% (200 of ~800)
    assert got["small"] == 200
    assert got["small"] / total > 0.2


def test_gopher_quality_rules(spark):
    from benthos_spark.llm.text import gopher_quality_filter, gopher_signals
    good = ("the data we have collected is ready to be shipped with "
            "all of the records that were checked " * 3)
    rows = [
        (1, good),                                   # passes everything
        (2, "short doc"),                            # word count
        (3, "## " * 40 + good),                      # symbol ratio
        (4, "\n".join("- bullet item here" for _ in range(10))),  # bullets
        (5, ("a " * 60).strip()),                    # mean word length < 3
        (6, " ".join("123" for _ in range(60))),     # alpha fraction
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    sig = {r.doc_id: r.s for r in df.select(
        "doc_id", gopher_signals(df.text, min_words=30).alias("s")).collect()}
    assert sig[1].keep
    assert not sig[2].word_count_ok
    assert not sig[3].symbol_ok
    assert not sig[4].bullet_ok and not sig[4].keep
    assert not sig[5].mean_wl_ok
    assert not sig[6].alpha_ok and not sig[6].stops_ok
    kept = [r.doc_id for r in
            gopher_quality_filter(df, min_words=30).collect()]
    assert kept == [1]


def test_pack_sequences_ffd_invariants(spark):
    """BFD bin packing: every doc in exactly one bin, no bin over
    capacity, oversized docs isolated+truncated, deterministic across
    runs, and fill efficiency beats naive one-doc-per-bin."""
    from benthos_spark.llm.packing import pack_sequences_ffd
    rows = [(i, "tok " * ((i * 37) % 300 + 5)) for i in range(400)]
    rows.append((9999, "tok " * 3000))  # oversized
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = pack_sequences_ffd(df, ctx_len=512, n_shards=4).collect()
    assert len(out) == 401
    fills = {}
    for r in out:
        fills.setdefault(r.bin_id, 0)
        assert r.bin_fill <= 512
        assert (r.bin_id >> 40) == r.shard
    big = [r for r in out if r.doc_id == 9999][0]
    assert big.truncated and big.bin_fill == 512
    assert all(not r.truncated for r in out if r.doc_id != 9999)
    # determinism
    again = pack_sequences_ffd(df, ctx_len=512, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # fill efficiency: total bins well under doc count
    n_bins = len({r.bin_id for r in out})
    assert n_bins < 300


def test_embedding_near_dup_empty_frame(spark):
    """planes=None on an empty frame returns an empty pair frame
    instead of crashing on the dimension probe."""
    from benthos_spark.llm.dedup import embedding_near_dup_pairs
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(empty, threshold=0.5)
    assert out.columns == ["id_a", "id_b", "cos"]
    assert out.count() == 0


def test_pack_sequences_ffd_string_ids(spark):
    """Non-bigint id columns carry through the BFD packer."""
    from benthos_spark.llm.packing import pack_sequences_ffd
    df = spark.createDataFrame(
        [(f"doc-{i}", "tok " * (10 + i)) for i in range(20)],
        "doc_id string, content string")
    out = pack_sequences_ffd(df, text="content", id_col="doc_id",
                             ctx_len=64, n_shards=2)
    assert dict(out.dtypes)["doc_id"] == "string"
    assert out.count() == 20


def test_frequency_mass_reference_corpus(spark):
    """frequency_mass with a precomputed vocabulary: OOV tokens score
    as rare with zero mass (the score-new-data-without-rescanning
    path), and the self-scored corpus matches hand arithmetic."""
    from benthos_spark.llm.text import frequency_mass, unigram_counts
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "a zz")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in frequency_mass(docs, min_df=2).collect()}
    # corpus counts: a=4, b=2, c=1, zz=1; total=8
    assert out[1].n_tokens == 3
    assert out[1].fmass == round((4 + 4 + 2) / (8 * 3), 9)
    assert out[1].rare_ratio == 0.0
    assert out[2].rare_ratio == round(1 / 3, 9)          # c is rare
    # reference-vocab scoring: doc with unseen token
    vocab = unigram_counts(docs)
    new = spark.createDataFrame([(9, "a qqq")], "doc_id long, text string")
    r9 = frequency_mass(new, counts=vocab, min_df=2).collect()[0]
    assert r9.fmass == round(4 / (8 * 2), 9)             # qqq mass 0
    assert r9.rare_ratio == 0.5


def test_hash_split_deterministic_and_disjoint(spark):
    from benthos_spark.llm.sampling import hash_split, split_boundaries
    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = hash_split(docs, [("train", 8.0), ("val", 1.0), ("test", 1.0)],
                     id_col="doc_id", salt="s")
    frac = {r.split: r.n for r in
            out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(frac) == {"train", "val", "test"}
    assert abs(frac["train"] / 2000 - 0.8) < 0.05        # hash-uniform
    # stable across recomputation and partitioning
    again = hash_split(docs.repartition(7), [("train", 8.0), ("val", 1.0),
                                             ("test", 1.0)],
                       id_col="doc_id", salt="s")
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in again.collect()}
    assert a == b
    # boundaries expose the exact IEEE partial sums (0.8+0.1 != 0.9),
    # which is what lets an external SQL oracle embed identical
    # boundary literals
    bs = split_boundaries([("train", 0.8), ("val", 0.1), ("test", 0.1)])
    assert [n for n, _ in bs] == ["train", "val", "test"]
    assert bs[0][1] == 0.8 and bs[2][1] == bs[1][1] + 0.1
    assert bs[1][1] == 0.8 + 0.1  # == 0.9000000000000001, not 0.9


def test_exact_substring_pairs(spark):
    """Docs sharing a contiguous k-token run pair up; shorter overlaps
    and boilerplate grams past max_df don't."""
    from benthos_spark.llm.dedup import exact_substring_pairs
    run = "one two three four five six seven eight"
    rows = [(1, f"intro {run} outro alpha"),
            (2, f"different prefix {run} and suffix"),
            (3, "one two three nothing else in common here at all"),
            (4, "totally unrelated content words here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.n_shared
           for r in exact_substring_pairs(df, k=6, max_df=16).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 3  # 8-token run shares three 6-gram starts
    # boilerplate guard: the same run in >max_df docs generates no pairs
    many = [(100 + i, f"doc {i} has {run} boilerplate") for i in range(20)]
    df2 = spark.createDataFrame(rows + many, "doc_id long, text string")
    got2 = {(r.id_a, r.id_b)
            for r in exact_substring_pairs(df2, k=6, max_df=8).collect()}
    assert not any(a >= 100 or b >= 100 for a, b in got2)


def test_ivf_indexed_prunes_partitions(spark, sf_dir, tmp_path):
    """write_ivf_index + ivf_topk_indexed: identical results to the
    in-memory ivf_topk, and the scan reads ONLY the probed list
    partitions (pruning visible in the plan and in the file listing)."""
    from benthos_spark.llm.similarity import (ivf_topk, ivf_topk_indexed,
                                              train_ivf_centroids,
                                              write_ivf_index)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_centroids=8, sample=512, iters=5)
    idx = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, idx, cents)
    import os
    parts = [d for d in os.listdir(idx) if d.startswith("__list=")]
    assert len(parts) >= 4  # corpus spread over inverted lists

    queries = emb.filter(F.col("vec_id") < 3) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    direct = {(r.query_id, r.vec_id, r.cos, r.rank)
              for r in ivf_topk(emb, queries, cents, k=5,
                                n_probe=2).collect()}
    via_idx = ivf_topk_indexed(spark, idx, queries, cents, k=5, n_probe=2)
    got = {(r.query_id, r.vec_id, r.cos, r.rank) for r in via_idx.collect()}
    assert got == direct
    plan = via_idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "__list IN" in plan or "__list#" in plan


def test_semantic_dedup(spark):
    """SemDeDup (arXiv:2303.09540): within-cluster near-dups drop with
    the smallest cluster-mate as keeper; cross-cluster lookalikes and
    unique docs survive."""
    from benthos_spark.llm.dedup import semantic_dedup

    # two orthogonal "topics" + exact dup of id 0 + near dup of id 1
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]),
         (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [1.0, 0.0, 0.0, 0.0]),        # dup of 0
         (3, [0.02, 0.999, 0.0, 0.0]),     # near dup of 1
         (4, [0.0, 0.0, 1.0, 0.0])],       # unique direction
        "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
             [0.0, 0.0, 1.0, 0.0]]
    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, cents, threshold=0.95).collect()}
    assert set(out) == {2, 3}
    assert out[2]["dup_of"] == 0
    assert out[2]["max_cos"] == 1.0
    assert out[3]["dup_of"] == 1
    # only one shuffle-producing join, on the int cluster key
    plan = semantic_dedup(emb, cents)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_paragraph_dedup(spark):
    """CCNet paragraph dedup: first corpus-wide occurrence wins,
    documents are rewritten from survivors, empties drop."""
    from benthos_spark.llm.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "unique one\nshared para\n\nunique two"),
         (2, "shared para\nanother unique"),
         (3, "shared para")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 3
    assert out[1]["dedup_text"] == "unique one\nshared para\nunique two"
    assert out[2]["n_kept"] == 1
    assert out[2]["dedup_text"] == "another unique"
    assert out[3]["n_kept"] == 0
    assert out[3]["dedup_text"] == ""


# held-out labeled sentences (NOT in the training corpus) for the
# trained language-ID model
_LANGID_HOLDOUT = [
    ("en", "The committee will publish its final report early next year."),
    ("en", "Several restaurants in the city offer vegetarian dishes every day."),
    ("en", "My brother works as an engineer at a large software company."),
    ("en", "The museum closes at five but the garden stays open until sunset."),
    ("de", "Der Zug nach Berlin fährt heute leider zwanzig Minuten später ab."),
    ("de", "Im Sommer fahren wir oft mit dem Fahrrad an den See."),
    ("de", "Die Regierung hat gestern ein neues Gesetz beschlossen."),
    ("de", "Kannst du mir bitte das Salz und den Pfeffer geben?"),
    ("fr", "Le musée ferme ses portes à dix-huit heures tous les jours."),
    ("fr", "Nous avons mangé du pain et du fromage au bord de la mer."),
    ("fr", "Il faut toujours vérifier les informations avant de les partager."),
    ("fr", "Ma sœur habite à Lyon depuis presque dix ans maintenant."),
    ("es", "El tren llega a la estación central a las ocho de la noche."),
    ("es", "Mi hermana estudia medicina en la universidad de Madrid."),
    ("es", "El gobierno anunció ayer nuevas medidas económicas importantes."),
    ("es", "¿Puedes pasarme la sal y la pimienta, por favor?"),
    ("it", "Il treno per Roma parte dal binario tre alle nove e mezza."),
    ("it", "Mia sorella studia medicina all'università di Bologna."),
    ("it", "Ieri sera abbiamo mangiato una pizza buonissima in centro."),
    ("it", "Il governo ha annunciato ieri nuove misure economiche."),
    ("pt", "O comboio para Lisboa parte da estação às nove da manhã."),
    ("pt", "Minha irmã estuda medicina na universidade de São Paulo."),
    ("pt", "Ontem à noite comemos um peixe delicioso perto do mar."),
    ("pt", "O governo anunciou ontem novas medidas econômicas."),
    ("nl", "De trein naar Amsterdam vertrekt vandaag van spoor zeven."),
    ("nl", "Mijn zus studeert geneeskunde aan de universiteit van Utrecht."),
    ("nl", "Gisteravond hebben we lekker gegeten bij een klein restaurant."),
    ("nl", "De regering heeft gisteren nieuwe maatregelen aangekondigd."),
    ("sv", "Tåget till Stockholm avgår från spår fyra om tio minuter."),
    ("sv", "Min syster studerar medicin vid universitetet i Uppsala."),
    ("sv", "Igår kväll åt vi middag på en liten restaurang vid vattnet."),
    ("sv", "Regeringen meddelade igår nya ekonomiska åtgärder."),
    ("pl", "Pociąg do Warszawy odjeżdża z peronu drugiego za dziesięć minut."),
    ("pl", "Moja siostra studiuje medycynę na uniwersytecie w Krakowie."),
    ("pl", "Wczoraj wieczorem jedliśmy kolację w małej restauracji."),
    ("pl", "Rząd ogłosił wczoraj nowe ważne przepisy gospodarcze."),
    ("tr", "İstanbul treni on dakika sonra ikinci perondan kalkacak."),
    ("tr", "Kız kardeşim Ankara üniversitesinde tıp okuyor."),
    ("tr", "Dün akşam deniz kenarındaki küçük bir lokantada yemek yedik."),
    ("tr", "Hükümet dün yeni ekonomik önlemler açıkladı."),
    ("id", "Kereta ke Jakarta berangkat dari peron dua sepuluh menit lagi."),
    ("id", "Adik perempuan saya belajar kedokteran di universitas Bandung."),
    ("id", "Tadi malam kami makan ikan bakar di dekat pantai."),
    ("id", "Pemerintah kemarin mengumumkan kebijakan ekonomi baru."),
    ("ru", "Поезд в Москву отправляется со второй платформы через десять минут."),
    ("ru", "Моя сестра изучает медицину в университете Санкт-Петербурга."),
    ("ru", "Вчера вечером мы ужинали в маленьком ресторане у моря."),
    ("ru", "Правительство вчера объявило о новых экономических мерах."),
    # script-shortcut languages
    ("ja", "昨日はとても暑かったので、友達と一緒にアイスクリームを食べました。"),
    ("ko", "어제 저녁에 친구들과 함께 바닷가 근처 식당에서 저녁을 먹었습니다."),
    ("zh", "昨天晚上我们在海边的一家小餐馆吃了晚饭,味道非常好。"),
    ("ar", "غادر القطار المحطة في الساعة الثامنة صباحا متجها إلى المدينة."),
    ("el", "Το τρένο για την Αθήνα αναχωρεί από την αποβάθρα δύο σε δέκα λεπτά."),
    ("hi", "कल शाम हमने समुद्र के किनारे एक छोटे रेस्तरां में खाना खाया।"),
    ("th", "เมื่อวานตอนเย็นเรากินข้าวที่ร้านอาหารเล็กๆ ริมทะเล"),
    ("he", "הרכבת לתל אביב יוצאת מרציף שתיים בעוד עשר דקות."),
]


def test_langid_model_holdout_accuracy(spark):
    """The trained classifier (llm/langid_model.py) must beat 90% on a
    labeled holdout it never saw, and script-shortcut languages must be
    exact.  Guards against weight-file regressions."""
    from benthos_spark.llm.text import lang_id_model
    df = spark.createDataFrame(_LANGID_HOLDOUT, "label string, text string")
    out = df.select("label", lang_id_model(F.col("text")).alias("pred")) \
        .collect()
    script_langs = {"ja", "ko", "zh", "ar", "el", "hi", "th", "he"}
    script_rows = [r for r in out if r.label in script_langs]
    assert all(r.pred == r.label for r in script_rows), \
        [(r.label, r.pred) for r in script_rows if r.pred != r.label]
    clf_rows = [r for r in out if r.label not in script_langs]
    acc = sum(r.pred == r.label for r in clf_rows) / len(clf_rows)
    assert acc >= 0.9, (acc, [(r.label, r.pred) for r in clf_rows
                              if r.pred != r.label])


def test_langid_model_contract(spark):
    """Same column contract as the heuristic: string in, code out,
    'unknown' for empty/whitespace/symbol-only text."""
    from benthos_spark.llm.text import lang_id_model
    df = spark.createDataFrame(
        [("",), ("   ",), ("12345 !!! ???",),
         ("The quick brown fox jumps over the lazy dog every day",)],
        "text string")
    got = [r.c for r in df.select(
        lang_id_model(F.col("text")).alias("c")).collect()]
    assert got[:3] == ["unknown", "unknown", "unknown"]
    assert got[3] == "en"


def test_connected_components_log_rounds_on_deep_graphs(spark):
    """Hooking and shortcutting resolve deep graphs in O(log n) rounds
    whatever the id order: a 2 000-node path with shuffled ids (linear
    rounds for min-label propagation even with compression) and a
    random tree each give ONE component labelled by the min id, in at
    most 1 + 2*ceil(log2 n) jobs with AQE off (the edge checkpoint,
    then one job per round).  The returned frame's size estimate must
    not carry the per-round compounding of join estimates (at most 64
    bits: Spark's unknown-size default is 63)."""
    import math
    import random

    from benthos_spark.llm.dedup import connected_components

    rnd = random.Random(7)
    n = 2000
    ids = list(range(n))
    rnd.shuffle(ids)
    path = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    tree = [(ids[i], ids[rnd.randrange(i)]) for i in range(1, n)]
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, edges in (("path", path), ("tree", tree)):
            df = spark.createDataFrame(edges, "id_a long, id_b long")
            group = f"cc_log_rounds_{name}"
            sc.setJobGroup(group, "cc rounds on a deep graph")
            cc = connected_components(df)
            sc.setJobGroup(None, None)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            got = cc.collect()
            assert len(got) == n and {r.component for r in got} == {0}, name
            assert n_jobs <= 1 + 2 * math.ceil(math.log2(n)), (name, n_jobs)
            bits = (cc._jdf.queryExecution().optimizedPlan().stats()
                    .sizeInBytes().bit_length())
            assert bits <= 64, (name, bits)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_connected_components_two_phase_matches_and_beats_diameter(spark):
    """The one min-label algorithm keeps what the large-star/small-star
    rounds it replaced were for: labels equal to a union-find reference
    (min id per component) on a general graph of a clique, a ring and a
    pair, and O(log n) rounds where plain label propagation needs
    diameter rounds: a 200-edge chain resolves to ONE component within
    12 rounds."""
    import random
    import warnings

    from benthos_spark.llm.dedup import connected_components

    random.seed(7)
    pairs = [(i, j) for i in range(10) for j in range(i + 1, 10)]
    pairs += [(100 + i, 100 + (i + 1) % 15) for i in range(15)]
    pairs += [(500, 501)]
    random.shuffle(pairs)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {(v, find(v)) for v in parent}
    e = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {(r.doc_id, r.component)
           for r in connected_components(e).collect()}
    assert got == want and len({c for _, c in got}) == 3

    chain = spark.createDataFrame([(i, i + 1) for i in range(200)],
                                  "id_a long, id_b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = connected_components(chain, max_iter=12).collect()
    assert {r.component for r in got} == {0}
    assert len(got) == 201


def test_connected_components_auto_escalates_to_two_phase(spark):
    """No caller ever picks a second algorithm for deep graphs: a
    600-node path, far past what compressed label propagation finished
    in the cap (~300 rounds), must resolve to ONE component with min-id
    labels inside max_iter=50 without the exhaustion warning."""
    import warnings

    from benthos_spark.llm.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(600)],
                                  "id_a long, id_b long")
    with warnings.catch_warnings():
        # a deep path must NOT trip the exhaustion warning
        warnings.simplefilter("error", RuntimeWarning)
        got = connected_components(chain, max_iter=50).collect()
    assert {r.component for r in got} == {0}
    assert len(got) == 601


def test_connected_components_compression_solves_deep_chains(spark):
    """r6 regression pin for path compression: a 120-node path needs
    120 plain label-prop rounds (> max_iter=50 would return WRONG
    labels without compression); with every label read two hops up,
    lab(lab(v)), the label horizon grows geometrically and the chain
    resolves to one component well inside the cap."""
    from benthos_spark.llm.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(120)],
                                  "id_a long, id_b long")
    got = connected_components(chain, max_iter=50).collect()
    assert {r.component for r in got} == {0}
    assert len(got) == 121


def test_connected_components_warns_on_cap_exhaustion(spark):
    """ADVICE r6: falling off max_iter without the sum fixpoint used
    to return possibly-wrong labels SILENTLY.  A 41-node path needs
    more than 3 rounds, so the exhaustion must warn."""
    import warnings

    import pytest as _pytest

    from benthos_spark.llm.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a long, id_b long")
    with _pytest.warns(RuntimeWarning, match="exhausted max_iter"):
        connected_components(chain, max_iter=3).collect()


def test_dsir_selects_target_like_docs(spark):
    """DSIR: documents resembling the target sample's n-gram profile
    must outscore off-target documents, and the whole pipeline must be
    partition-invariant (weights are integer sums)."""
    from benthos_spark.llm.sampling import dsir_fit, dsir_select, dsir_weights

    rows = []
    for i in range(40):  # on-target style: legal-ish boilerplate
        rows.append((i, "the party of the first part agrees to the "
                        "terms of the agreement herein"))
    for i in range(40, 80):  # off-target style: code-ish tokens
        rows.append((i, "def main args return int x y z printf malloc "
                        "struct pointer"))
    raw = spark.createDataFrame(rows, ["doc_id", "text"])
    target = raw.filter(F.col("doc_id") < 6)  # small target sample

    lr = dsir_fit(target, raw, buckets=64)
    assert len(lr) == 64 and all(isinstance(v, int) for v in lr)

    picked = dsir_select(raw, target, k=40, buckets=64)
    ids = sorted(r.doc_id for r in picked.collect())
    assert ids == list(range(40)), "top-40 must be the on-target docs"

    # partition invariance: integer weights are order-free
    w1 = {r.doc_id: r.dsir_weight
          for r in dsir_weights(raw, lr).collect()}
    w2 = {r.doc_id: r.dsir_weight
          for r in dsir_weights(raw.repartition(7), lr).collect()}
    assert w1 == w2
    assert all(w1[i] > w1[j] for i in range(3) for j in range(41, 44))


def test_bloom_decontaminate_membership(spark):
    """Bloom decontamination: zero false negatives (every doc sharing a
    word 5-gram with the reference is flagged) and the bloom set is
    bounded by m regardless of reference size."""
    from benthos_spark.llm.dedup import bloom_build, bloom_contaminated

    ref = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta")],
        ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma delta epsilon y"),   # shares a 5-gram
         (2, "one two three four five six seven"),    # disjoint
         (3, "alpha beta gamma delta epsilon")],      # shares exactly one
        ["doc_id", "text"])
    out = {r.doc_id: r.n_flagged_grams
           for r in bloom_contaminated(corpus, ref, n=5).collect()}
    assert 1 in out and 3 in out, "shared 5-grams must be flagged"
    assert 2 not in out, "disjoint doc flagged — false positive at m=2^18"
    # the bloom set is position rows, ≤ k · n_grams and ≤ m
    bloom = bloom_build(ref, n=5)
    assert bloom.count() <= 3 * 3  # 3 grams × k=3 probes
    # partition invariance
    again = {r.doc_id: r.n_flagged_grams
             for r in bloom_contaminated(corpus.repartition(5), ref,
                                         n=5).collect()}
    assert again == out


def test_bm25_ranking_semantics(spark):
    """BM25: term-frequency saturation, idf down-weighting of common
    terms, length normalization, and partition invariance of the
    integerized scores."""
    from benthos_spark.llm.search import bm25_topk

    docs = spark.createDataFrame([
        (1, "cat cat cat dog"),          # high tf for 'cat', short
        (2, "cat dog bird fish mouse"),  # one 'cat', longer
        (3, "dog dog dog dog"),          # no 'cat'
        (4, "cat"),                      # one 'cat', shortest
        (5, "bird fish mouse owl hen"),  # no query terms
    ], ["doc_id", "text"])
    out = bm25_topk(docs, [("q", "cat")], topk=3).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert 3 not in ranked and 5 not in ranked
    assert ranked[0] == 1, "tf=3 must outrank tf=1"
    assert set(ranked) == {1, 2, 4}
    assert all(r.score_micro > 0 for r in out)

    # doc 4 (dl=1) must outrank doc 2 (dl=5) at equal tf
    scores = {r.doc_id: r.score_micro for r in out}
    assert scores[4] > scores[2], "length normalization"

    again = bm25_topk(docs.repartition(7), [("q", "cat")],
                      topk=3).collect()
    assert {(r.doc_id, r.score_micro) for r in again} == \
           {(r.doc_id, r.score_micro) for r in out}


def test_canonical_selection_keeps_best_per_cluster(spark):
    from benthos_spark.llm.dedup import canonical_selection

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 99)],
        ["doc_id", "n_chars"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], ["id_a", "id_b"])  # cluster {1,2,3}
    out = {r.doc_id: (r.component, r.is_canonical)
           for r in canonical_selection(docs, pairs).collect()}
    assert out[1] == (1, 0) and out[3] == (1, 0)
    assert out[2] == (1, 1), "highest n_chars, ties to smaller id"
    assert out[4] == (4, 1) and out[5] == (5, 1), "singletons canonical"


def test_bigram_lm_score_exact_and_invariant(spark):
    """Hand-checked interpolated bigram LM on a 2-doc corpus."""
    from benthos_spark.llm.text import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], ["doc_id", "text"])
    out = {r.doc_id: (r.n_tokens, r.lm_nano)
           for r in bigram_lm_score(docs).collect()}
    # corpus: c(a)=2, c(b)=2, T=4, c("a b")=2
    # doc tokens: 'a' (pos1) p = 2/4 = 0.5 -> 5e8
    #             'b' p = 0.5*(2/2) + 0.5*(2/4) = 0.75 -> 7.5e8
    assert out[1] == (2, 1_250_000_000)
    assert out[2] == out[1]
    again = {r.doc_id: (r.n_tokens, r.lm_nano)
             for r in bigram_lm_score(docs.repartition(5)).collect()}
    assert again == out


def test_bpe_train_and_encode(spark):
    """BPE: merges learned from pair frequencies, greedy rank-order
    apply, lossless round-trip (concatenated symbols == word), and the
    Spark apply path agrees with the pure-Python encoder."""
    from benthos_spark.llm.tokenizer import (bpe_encode_batch, bpe_token_count,
                                             bpe_train)

    texts = ["low lower lowest low low", "new newer newest new new",
             "low lower newest"] * 5
    merges = bpe_train(texts, n_merges=50)
    assert merges and all(isinstance(a, str) and isinstance(b, str)
                          for a, b in merges)
    # 'low' is frequent → should encode to few symbols
    toks = bpe_encode_batch(["low lower unknownword"], merges)[0]
    assert toks[0] == "low</w>", f"frequent word must merge fully: {toks}"
    joined = "".join(toks).replace("</w>", "")
    assert joined == "lowlowerunknownword", "BPE must be lossless"

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    out = {r.doc_id: r.n_bpe_tokens
           for r in bpe_token_count(df, merges).collect()}
    expect = {i: len(bpe_encode_batch([t], merges)[0])
              for i, t in enumerate(texts)}
    assert out == expect


def test_tfidf_keywords_ranking(spark):
    from benthos_spark.llm.search import tfidf_topk_terms

    docs = spark.createDataFrame([
        (1, "apple apple apple common"),
        (2, "banana banana common"),
        (3, "cherry common common"),
    ], ["doc_id", "text"])
    out = tfidf_topk_terms(docs, k=2).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.rank)):
        by_doc.setdefault(r.doc_id, []).append(r.term)
    # 'common' appears in every doc -> idf 0 -> excluded entirely
    assert by_doc == {1: ["apple"], 2: ["banana"], 3: ["cherry"]}
    again = tfidf_topk_terms(docs.repartition(5), k=2).collect()
    assert {(r.doc_id, r.term, r.score_micro) for r in again} == \
           {(r.doc_id, r.term, r.score_micro) for r in out}


def test_curation_pipeline_stages(spark):
    """curate_corpus: quality gate drops junk, canonical dedup keeps
    one doc per near-dup cluster, decontamination drops eval overlap."""
    from benthos_spark.llm.pipeline import curate_corpus

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away to be free of the farm")
    near = good + " indeed"
    rows = [
        (1, good, len(good)),
        (2, near, len(near)),            # near-dup of 1, longer -> canonical
        (3, "@@ ## !! ?? %% ^^ && ** (( ))", 30),   # fails alpha gate
        (4, "too short to pass", 17),               # fails word count
        (5, "every word here is to be of use and that must have "
            "weight with all of the readers somewhere", 95),
        (6, "the secret eval answer is to be of great value and "
            "that should have mattered with everyone always", 97),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    eval_df = spark.createDataFrame(
        [(100, "the secret eval answer is to be found")],
        ["doc_id", "text"])
    out = {r.doc_id: r.component
           for r in curate_corpus(corpus, eval_df,
                                  min_words=10).collect()}
    assert 3 not in out and 4 not in out, "quality gate"
    assert 6 not in out, "decontaminated (shared 5-gram with eval)"
    assert 5 in out, "clean doc survives"
    # near-dup cluster {1,2}: doc 2 (longer) is canonical
    assert 2 in out and 1 not in out


def test_new_ops_edge_cases(spark):
    """Empty/degenerate inputs must produce empty-or-total results, not
    crashes: OOV bm25 queries, empty candidate pair sets, empty bloom
    reference."""
    from benthos_spark.llm.dedup import bloom_contaminated, canonical_selection
    from benthos_spark.llm.search import bm25_topk, tfidf_topk_terms

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", 10), (2, "delta epsilon zeta", 10)],
        ["doc_id", "text", "n_chars"])

    # bm25: every query term OOV -> empty result frame, sane schema
    out = bm25_topk(docs, [("q", "nosuchterm")], topk=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "doc_id", "rank", "score_micro"]

    # canonical selection with NO candidate pairs: everyone canonical
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    res = {r.doc_id: (r.component, r.is_canonical)
           for r in canonical_selection(docs, empty_pairs).collect()}
    assert res == {1: (1, 1), 2: (2, 1)}

    # bloom with an empty reference: nothing flagged
    empty_ref = spark.createDataFrame([], "doc_id long, text string")
    assert bloom_contaminated(docs, empty_ref).count() == 0

    # tfidf on a single-doc corpus: idf = ln(1) = 0 -> no keywords
    one = docs.filter(F.col("doc_id") == 1)
    assert tfidf_topk_terms(one, k=3).count() == 0


def test_dsir_fit_conditional_matches_two_pass(spark):
    from benthos_spark.llm.sampling import dsir_fit, dsir_fit_conditional

    rows = [(i, "alpha beta gamma" if i % 2 else "delta epsilon zeta")
            for i in range(40)]
    raw = spark.createDataFrame(rows, ["doc_id", "text"])
    two_pass = dsir_fit(raw.filter(F.col("doc_id") % 2 == 1), raw,
                        buckets=64)
    fused = dsir_fit_conditional(raw, F.col("doc_id") % 2 == 1,
                                 buckets=64)
    assert fused == two_pass


def test_minhash_arrow_kernel_matches_column_path(spark):
    from benthos_spark.llm.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {'x' if i % 3 else 'y'} zeta "
             f"eta theta word{i % 5}") for i in range(60)],
        ["doc_id", "text"])
    a = {(r.id_a, r.id_b)
         for r in minhash_lsh_pairs(docs, arrow_kernel=True).collect()}
    b = {(r.id_a, r.id_b)
         for r in minhash_lsh_pairs(docs, arrow_kernel=False).collect()}
    assert a == b and a, "kernel and Column paths must agree (non-empty)"


def test_star_edges_give_identical_components_to_pairs(spark):
    """minhash_lsh_star_edges is the linear-output clustering surface:
    its connected components (node set AND labels) must equal the
    all-pairs surface's — per (band, bucket), member→bucket-min edges
    connect exactly what all-pairs edges connect."""
    from benthos_spark.llm.dedup import (connected_components,
                                         minhash_lsh_pairs,
                                         minhash_lsh_star_edges)

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {'x' if i % 3 else 'y'} zeta "
             f"eta theta word{i % 5}") for i in range(60)]
        + [(100 + i, "the same boilerplate doc body") for i in range(8)],
        ["doc_id", "text"])
    via_pairs = {(r.doc_id, r.component) for r in connected_components(
        minhash_lsh_pairs(docs)).collect()}
    via_stars = {(r.doc_id, r.component) for r in connected_components(
        minhash_lsh_star_edges(docs)).collect()}
    assert via_stars == via_pairs and via_stars
    # and the star surface is never larger than the pairs surface
    n_pairs = minhash_lsh_pairs(docs).count()
    n_stars = minhash_lsh_star_edges(docs).count()
    assert n_stars <= n_pairs


def test_star_edges_linear_on_boilerplate_skew(spark, tmp_path):
    """r7 (verdict ask #2): on the deliberately skewed boilerplate
    fixture — 10% of docs are one near-identical template, which lands
    in a handful of mega band-buckets — the all-pairs surface emits
    O(bucket²) rows while star edges stay O(bucket), with IDENTICAL
    connected components.  This is the 100 TB boilerplate-bucket cliff
    pinned in CI; SCALE.md records the sf0.1bp/sf1bp measured curve
    (108× vs 13.6× output growth at 10× data)."""
    import os
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from gen_scale_data import gen

    from benthos_spark.llm.dedup import (connected_components,
                                         minhash_lsh_pairs,
                                         minhash_lsh_star_edges)

    out = str(tmp_path / "bp")
    gen(0.02, out, "zipf", boilerplate=True)  # 1000 docs, ~100 bp
    docs = spark.read.parquet(f"{out}/documents.parquet")
    n_pairs = minhash_lsh_pairs(docs).count()
    n_stars = minhash_lsh_star_edges(docs).count()
    # the template bucket alone is ~90 members → ≥ C(90,2) ≈ 4k pairs;
    # star edges stay within a small multiple of the doc count
    assert n_pairs > 4 * n_stars, (n_pairs, n_stars)
    assert n_stars < 2 * docs.count()
    via_pairs = {(r.doc_id, r.component) for r in connected_components(
        minhash_lsh_pairs(docs)).collect()}
    via_stars = {(r.doc_id, r.component) for r in connected_components(
        minhash_lsh_star_edges(docs)).collect()}
    assert via_stars == via_pairs and via_stars


def test_minhash_paths_agree_on_null_text(spark):
    """NULL text coalesces to '' before shingle hashing, so no null
    reaches either the numpy kernel (NaN→int64 cast) or the Column
    fold — both paths must produce identical band keys for null docs."""
    import warnings
    from benthos_spark.llm.dedup import shingle_hash_frame, \
        _banded_signatures_arrow, _banded_signatures_column

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "alpha beta gamma delta"),
         (4, "alpha beta gamma delta")],
        "doc_id long, text string")
    hashed = shingle_hash_frame(docs)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        arrow = {(r.doc_id, r.band, r.band_key)
                 for r in _banded_signatures_arrow(
                     hashed, "doc_id", bands=4, r=4).collect()}
    col = {(r.doc_id, r.band, r.band_key)
           for r in _banded_signatures_column(
               hashed, "doc_id", bands=4, r=4).collect()}
    assert arrow == col
    # the two null docs collide with each other (same '' shingle)
    keys = {}
    for d, b, k in arrow:
        keys.setdefault(d, set()).add((b, k))
    assert keys[1] == keys[2]


# ------------------------------------------------- gram kernel parity
# The Arrow gram kernels (llm/grams.py) must be bit-identical to the
# Column word_ngrams paths on every edge the tokenizer contract names:
# null text, empty text, leading/trailing tabs (empty tokens!), runs of
# whitespace, unicode words, unicode whitespace (NOT split — Java \s is
# ASCII), and docs shorter than n.

def _tricky_docs(spark):
    return spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "\talpha"), (5, "beta\t"),
         (6, "alpha  beta\tgamma"), (7, "héllo wörld héllo wörld héllo"),
         (8, "x y"), (9, "one"), (10, "a b c d e f g a b c d e f"),
         (11, "a\nb\x0bc\x0cd\re f"), (12, "dup dup dup dup dup dup")],
        "doc_id long, text string")


def test_gram_hash_stream_matches_column_path(spark):
    from benthos_spark.llm.grams import gram_hash_stream
    from benthos_spark.llm.text import materialize_cols, tokens, word_ngrams
    from benthos_spark.llm.dedup import hash48
    from collections import Counter
    docs = _tricky_docs(spark)
    for n in (2, 5):
        toks = materialize_cols(docs, __toks=tokens(F.col("text")))
        col = Counter((r.doc_id, r.gh) for r in toks.select(
            "doc_id", F.explode(word_ngrams(F.col("__toks"), n)).alias("g"))
            .select("doc_id", hash48(F.col("g")).alias("gh")).collect())
        ker = Counter((r.doc_id, r.gh) for r in
                      gram_hash_stream(docs, n=n).collect())
        assert ker == col and ker, f"n={n}"
    # per_doc_distinct ≡ .distinct()
    dis = {(r.doc_id, r.gh) for r in
           gram_hash_stream(docs, n=2, per_doc_distinct=True).collect()}
    assert dis == set(Counter((r.doc_id, r.gh) for r in
                      gram_hash_stream(docs, n=2).collect()))


def test_dsir_kernel_matches_column_path(spark):
    from benthos_spark.llm.sampling import (dsir_fit, dsir_weights,
                                            dsir_fit_conditional)
    docs = _tricky_docs(spark)
    target = docs.filter(F.col("doc_id") >= 7)
    lr_a = dsir_fit(target, docs, buckets=32)
    lr_c = dsir_fit(target, docs, buckets=32, arrow_kernel=False)
    assert lr_a == lr_c
    wa = {(r.doc_id, r.dsir_weight)
          for r in dsir_weights(docs, lr_a, "text", "doc_id").collect()}
    wc = {(r.doc_id, r.dsir_weight)
          for r in dsir_weights(docs, lr_a, "text", "doc_id",
                                arrow_kernel=False).collect()}
    assert wa == wc and len(wa) == 12
    cond = F.col("doc_id") >= 7
    assert dsir_fit_conditional(docs, cond, buckets=32) == \
        dsir_fit_conditional(docs, cond, buckets=32, arrow_kernel=False)


def test_bloom_kernel_matches_column_path(spark):
    from benthos_spark.llm.dedup import bloom_build, bloom_contaminated
    docs = _tricky_docs(spark)
    ref = docs.filter(F.col("doc_id").isin(10, 11))
    a = {r.pos for r in bloom_build(ref, n=3, m=1 << 12).collect()}
    c = {r.pos for r in bloom_build(ref, n=3, m=1 << 12,
                                    arrow_kernel=False).collect()}
    assert a == c and a
    fa = {(r.doc_id, r.n_flagged_grams) for r in bloom_contaminated(
        docs, ref, n=3, m=1 << 12).collect()}
    fc = {(r.doc_id, r.n_flagged_grams) for r in bloom_contaminated(
        docs, ref, n=3, m=1 << 12, arrow_kernel=False).collect()}
    assert fa == fc and fa


def test_bigram_lm_and_substring_kernels_match_column_path(spark):
    from benthos_spark.llm.text import bigram_lm_score
    from benthos_spark.llm.dedup import ngram_contamination, \
        exact_substring_pairs
    docs = _tricky_docs(spark)
    ba = {tuple(r) for r in bigram_lm_score(docs).collect()}
    bc = {tuple(r) for r in bigram_lm_score(docs,
                                            arrow_kernel=False).collect()}
    assert ba == bc and ba
    ca = {tuple(r) for r in ngram_contamination(
        docs, docs.filter(F.col("doc_id") == 10), n=3).collect()}
    cc = {tuple(r) for r in ngram_contamination(
        docs, docs.filter(F.col("doc_id") == 10), n=3,
        arrow_kernel=False).collect()}
    assert ca == cc and ca
    sa = {tuple(r) for r in exact_substring_pairs(docs, k=3).collect()}
    sc = {tuple(r) for r in exact_substring_pairs(
        docs, k=3, arrow_kernel=False).collect()}
    assert sa == sc


def test_repetition_kernel_matches_column_path(spark):
    from benthos_spark.llm.text import repetition_signals
    # doc 24: top bigram count 3 over exactly 640 bigrams -> 3/640 =
    # 0.0046875, a round-to-6 TIE.  Spark round() works on the double's
    # shortest decimal repr (-> 0.004688); a kernel quantizing the
    # exact binary expansion would give 0.004687.  Pins the
    # Decimal(repr(x)) contract in grams.repetition_stats.
    tie = " ".join(["a", "b", "x1", "a", "b", "x2", "a", "b"]
                   + [f"u{i}" for i in range(633)])
    docs = _tricky_docs(spark).union(spark.createDataFrame(
        [(20, "x\n x \nx\n\n  \ny"), (21, "a b a b a b a b"),
         (22, "w\nw\nw"), (23, "p q r p q r p q"), (24, tie)],
        "doc_id long, text string"))
    a = {tuple(r) for r in repetition_signals(docs).collect()}
    c = {tuple(r) for r in repetition_signals(
        docs, arrow_kernel=False).collect()}
    assert a == c and len(a) == 17
    tie_row = [r for r in a if r[0] == 24]
    assert tie_row and tie_row[0][2] == 0.004688


def test_jaccard_max_df_frac_matches_fixed_on_small_corpus(spark):
    """max_df_frac = greatest(max_df, ceil(frac·n_docs)) — on a small
    corpus the floor wins, so results are bit-identical to the fixed
    guard (the oracle-scale invariance the entry relies on)."""
    from benthos_spark.llm.dedup import ngram_jaccard_pairs
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(5)]
        + [(10, "unique words here totally different content now"),
           (11, "unique words here totally different content today")],
        "doc_id long, text string")
    fixed = {tuple(r) for r in ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=4).collect()}
    frac = {tuple(r) for r in ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=4, max_df_frac=0.0001).collect()}
    assert fixed == frac
    # and a LARGER frac cutoff changes the survivor set (guard active)
    loose = {tuple(r) for r in ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=4, max_df_frac=1.0).collect()}
    assert loose >= fixed


def test_literal_frame_values_relation(spark):
    """literal_frame: JVM VALUES LocalRelation with exact schema and
    faithful literals (quotes, backslashes, null, binary, map)."""
    from benthos_spark.operators.literals import literal_frame

    df = literal_frame(
        spark, [(1, "it's a \\ test", None, b"\x00\xff", {"k": "v'2"})],
        "i int, t string, n string, b binary, m map<string,string>")
    r = df.collect()[0]
    assert r.i == 1 and r.t == "it's a \\ test" and r.n is None
    assert bytes(r.b) == b"\x00\xff" and r.m == {"k": "v'2"}
    # the plan is a LocalRelation / OneRowRelation — no RDD scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan
    empty = literal_frame(spark, [], "a int, b string")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<a:int,b:string>"


def test_assign_corpus_kernel_matches_flat_sql(spark):
    """Large-k centroid assignment switches from flat codegen'd SQL to
    an Arrow kernel (janino cannot compile k·d ≳ 10k terms — the
    auto-k sf3 OOM).  The kernel's left-to-right per-dimension fold
    and >=-update tie-break must reproduce the SQL path EXACTLY,
    including near-tie vectors and null/short-vector → -1."""
    import benthos_spark.llm.similarity as sim

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
            (2, [0.5, 0.5, 0.0]),        # exact tie → larger idx
            (3, [0.1000000001, 0.1, 0.3]),
            (4, None), (5, [0.2, 0.1, 0.0])]   # null → -1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.3, 0.3, 0.4]]
    flat = {(r.vec_id, r["__list"]) for r in
            sim._assign_corpus_flat(df, cents, "embedding").collect()}
    old = sim._FLAT_ASSIGN_MAX_TERMS
    sim._FLAT_ASSIGN_MAX_TERMS = 0  # force the kernel path
    try:
        kern = {(r.vec_id, r["__list"]) for r in
                sim._assign_corpus_flat(df, cents, "embedding").collect()}
    finally:
        sim._FLAT_ASSIGN_MAX_TERMS = old
    assert flat == kern
    assert (4, -1) in flat
    # vec 2 dots: c0=0.5, c1=0.5, c2=0.3 — exact c0/c1 tie, larger
    # idx wins under the struct array_max contract
    assert (2, 1) in flat
    # short vectors: ANSI flat SQL ERRORS on the out-of-bounds index;
    # the kernel maps them to -1 instead — pin the kernel contract
    short = spark.createDataFrame([(9, [1.0])],
                                  "vec_id long, embedding array<double>")
    sim._FLAT_ASSIGN_MAX_TERMS = 0
    try:
        assert [(r.vec_id, r["__list"]) for r in sim._assign_corpus_flat(
            short, cents, "embedding").collect()] == [(9, -1)]
    finally:
        sim._FLAT_ASSIGN_MAX_TERMS = old


def test_values_or_pickled_and_dict_literal_frame(spark):
    """The round-6 literal sweep: bridge helpers render small row sets
    as VALUES (no pickled-RDD scan) and fall back to createDataFrame
    for unrenderable/oversized input, matching its results."""
    from benthos_spark.operators.literals import (dict_literal_frame,
                                                  values_or_pickled)

    # tuple rows + StructType schema (the INGEST/MESSAGE bridge shape)
    from pyspark.sql import types as T
    sch = T.StructType([
        T.StructField("content", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()),
                      True)])
    df = values_or_pickled(spark, [("a'b", {"k": "v"}), (None, {})], sch)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan
    rows = df.collect()
    assert rows[0].content == "a'b" and rows[0].meta == {"k": "v"}
    assert rows[1].content is None and rows[1].meta == {}
    # dict rows reorder by schema; oversized input takes the RDD path
    df2 = values_or_pickled(spark, [{"b": 1, "a": "x"}], "a string, b int")
    assert df2.collect()[0].asDict() == {"a": "x", "b": 1}
    big = values_or_pickled(
        spark, [(str(i), {}) for i in range(600)], sch)
    assert big.count() == 600

    one = dict_literal_frame(spark, {"s": "t", "n": 3, "f": 0.5,
                                     "b": True, "m": {"k": "v"},
                                     "arr": [1, 2]})
    r = one.collect()[0]
    assert (r.s, r.n, r.f, r.b, r.m, r.arr) == \
        ("t", 3, 0.5, True, {"k": "v"}, [1, 2])
    assert one.schema["n"].dataType.simpleString() == "bigint"
    # inference-needed shapes decline (caller falls back)
    assert dict_literal_frame(spark, {"x": None}) is None
    assert dict_literal_frame(spark, {"x": {"nested": 1}}) is None
    assert dict_literal_frame(spark, {"bad key": 1}) is None
    assert dict_literal_frame(spark, {}) is None


def test_literal_frame_float_specials_and_int_overflow(spark):
    """nan/inf render as Spark's typed literals (repr() would be
    invalid SQL); over-BIGINT ints raise like createDataFrame instead
    of CAST-to-NULL silently."""
    import math

    import pytest as _pytest

    from benthos_spark.operators.literals import literal_frame

    df = literal_frame(
        spark,
        [(1, float("nan")), (2, float("inf")), (3, float("-inf")),
         (4, 0.1)],
        "i int, x double")
    rows = {r.i: r.x for r in df.collect()}
    assert math.isnan(rows[1]) and rows[2] == float("inf")
    assert rows[3] == float("-inf") and rows[4] == 0.1
    with _pytest.raises(TypeError, match="overflows BIGINT"):
        literal_frame(spark, [(1 << 63,)], "x bigint")


def test_c4_clean_rules(spark):
    """C4 recipe behavior on crafted pages: line retention (terminal
    punctuation, ≥5 words, no js/cookie boilerplate) and page
    tripwires (lorem ipsum, braces, <3 kept lines)."""
    from benthos_spark.llm.text import c4_clean

    good = ("This is a proper sentence with many words.\n"
            "Another full sentence that also ends properly!\n"
            "Does this one have enough words to stay?\n"
            "short line.\n"                      # <5 words → dropped
            "no terminal punctuation here at all\n"
            "Please enable JavaScript to view this page.")  # js → drop
    lorem = good + "\nLorem Ipsum dolor sit amet."
    brace = good + "\nfunction f() { return 1; }"
    thin = "Only one proper sentence lives here.\nshort.\n"
    df = spark.createDataFrame(
        [(1, good), (2, lorem), (3, brace), (4, thin)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in c4_clean(df).collect()}
    assert set(out) == {1}                      # tripwires + thin drop
    assert out[1].split("\n") == [
        "This is a proper sentence with many words.",
        "Another full sentence that also ends properly!",
        "Does this one have enough words to stay?"]


def test_boilerplate_line_strip(spark):
    """Lines verbatim-shared across ≥min_df docs of a group strip from
    every doc; unique lines and other groups stay; order preserved."""
    from benthos_spark.llm.text import boilerplate_line_strip

    chrome = "Copyright 2020 Example Corp. All rights reserved."
    rows = [(i, "web", f"unique body line {i}.\n" + chrome)
            for i in range(4)]
    rows.append((9, "web", "another unique page body."))
    rows.append((10, "mail", chrome))   # other group: df=1 there
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "text string")
    out = {r["doc_id"]: r["text"] for r in boilerplate_line_strip(
        df, group="source", max_df_frac=0.5, min_df=3).collect()}
    for i in range(4):
        assert out[i] == f"unique body line {i}.", out[i]
    assert out[9] == "another unique page body."
    assert out[10] == chrome            # df=1 in 'mail' — kept


def test_boilerplate_line_strip_cap(spark):
    """r7 verdict ask #8: a pathological group where every doc shares
    thousands of lines must not bloat the broadcast — the frequent-
    line set caps at top-N by (df DESC, line ASC), deterministically
    keeping the WORST offenders, and check_cap=True warns naming the
    truncated group."""
    import warnings as _w

    from benthos_spark.llm.text import boilerplate_line_strip

    # group 'bad': 40 shared lines in every doc; line k appears in
    # 4 + (k % 3) docs → distinct df tiers for a deterministic top-5
    shared = [f"shared chrome line {k:02d}" for k in range(40)]
    rows = []
    for i in range(8):
        body = [ln for k, ln in enumerate(shared)
                if i < 4 + (4 - k % 3)] + [f"body {i}"]
        rows.append((i, "bad", "\n".join(body)))
    rows.append((99, "ok", "one line\nanother"))
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "text string")
    kw = dict(group="source", max_df_frac=0.1, min_df=3)

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        out = {r["doc_id"]: r["text"] for r in boilerplate_line_strip(
            df, max_lines_per_group=5, check_cap=True, **kw).collect()}
        hits = [w for w in rec if "capped" in str(w.message)]
    assert hits and "bad" in str(hits[0].message)
    # only the 5 highest-df lines stripped (ties → line ASC): every
    # other shared line survives in the docs that carried it
    kept_shared = [ln for ln in shared
                   if any(ln in out[i] for i in range(8))]
    assert len(kept_shared) == 35
    # uncapped: everything frequent strips; no warning
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        out2 = {r["doc_id"]: r["text"] for r in boilerplate_line_strip(
            df, check_cap=True, **kw).collect()}
        assert not [w for w in rec2 if "capped" in str(w.message)]
    for i in range(8):
        assert out2[i] == f"body {i}"
    assert out2[99] == "one line\nanother"


def test_pq_adc_recall_vs_exact_l2(spark, sf_dir):
    """PQ ADC top-k must (a) find each query's own vector at rank 1
    (self-distance is the global minimum even quantized, on these
    clustered fixtures) and (b) recall a solid share of the exact
    L2 top-10 — m=8×k=16 is aggressive 32× compression, so the bar is
    deliberately conservative; parity with DuckDB is the oracle gate's
    job, this pins retrieval QUALITY."""
    import numpy as np

    from benthos_spark.llm.similarity import (pq_adc_topk,
                                              train_pq_codebooks)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = train_pq_codebooks(emb, m=8, k=16, sample=512, iters=5)
    queries = emb.filter(F.col("vec_id") < 8) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    got = pq_adc_topk(emb, queries, cb, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"]))
    # (a) self at rank 1
    for qid_, pairs in by_q.items():
        assert min(pairs)[1] == qid_, (qid_, sorted(pairs)[:3])
    # (b) recall vs exact L2 top-10 (numpy, bounded fixture).  Pure
    # ADC at 32× compression measures ~0.33-0.39 on these tightly
    # clustered fixtures — that is WHY pq_rerank_topk exists; the bar
    # here only pins that the codes carry real signal.
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    X = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    hits = total = 0
    for qid_ in by_q:
        qv = X[ids == qid_][0]
        d2 = ((X - qv) ** 2).sum(axis=1)
        exact = set(ids[np.lexsort((ids, d2))[:10]].tolist())
        approx = {v for _, v in by_q[qid_]}
        hits += len(exact & approx)
        total += len(exact)
    assert hits / total >= 0.25, hits / total


def test_pq_rerank_recovers_exact_topk(spark, sf_dir):
    """The deployed shape: ADC shortlist + exact-L2 rerank.  With
    shortlist=100 the exact top-10 is nearly always contained, so the
    reranked result must match the exact L2 top-10 at ≥0.9 recall —
    the quality gap pure ADC leaves (~0.35) is closed by reading full
    vectors for only `shortlist` rows per query."""
    import numpy as np

    from benthos_spark.llm.similarity import (pq_rerank_topk,
                                              train_pq_codebooks)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = train_pq_codebooks(emb, m=8, k=16, sample=512, iters=5)
    queries = emb.filter(F.col("vec_id") < 8) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    got = pq_rerank_topk(emb, queries, cb, k=10, shortlist=100).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    X = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    hits = total = 0
    for qid_, approx in by_q.items():
        qv = X[ids == qid_][0]
        d2 = ((X - qv) ** 2).sum(axis=1)
        exact = set(ids[np.lexsort((ids, d2))[:10]].tolist())
        hits += len(exact & approx)
        total += len(exact)
    assert hits / total >= 0.9, hits / total


def test_ivf_pq_recall_vs_exact_l2(spark, sf_dir):
    """IVF-PQ composed top-k (r8): probed-list pruning + ADC shortlist
    + exact rerank must (a) find each query's own vector at rank 1
    (the self vector lives in the query's own nearest list, always
    probed first, and the exact rerank restores true distances) and
    (b) beat PURE ADC's recall vs the exact L2 top-10 — the rerank is
    the point of the composition.  Parity with DuckDB is the oracle
    gate's job; this pins retrieval QUALITY."""
    import numpy as np

    from benthos_spark.llm.similarity import (ivf_pq_topk,
                                              train_ivf_centroids,
                                              train_pq_codebooks)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_centroids=8, sample=512, iters=5)
    cb = train_pq_codebooks(emb, m=8, k=16, sample=512, iters=5)
    queries = emb.filter(F.col("vec_id") < 8) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    got = ivf_pq_topk(emb, queries, cents, cb, k=10, n_probe=3,
                      shortlist=50).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"]))
    for qid_, pairs in by_q.items():
        assert min(pairs)[1] == qid_, (qid_, sorted(pairs)[:3])
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    X = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    hits = total = 0
    for qid_ in by_q:
        qv = X[ids == qid_][0]
        d2 = ((X - qv) ** 2).sum(axis=1)
        exact = set(ids[np.lexsort((ids, d2))[:10]].tolist())
        approx = {v for _, v in by_q[qid_]}
        hits += len(exact & approx)
        total += len(exact)
    # shortlist+rerank lifts recall well above the ~0.33 pure-ADC
    # floor; 3/8 lists probed caps it below 1.0 on boundary queries
    assert hits / total >= 0.5, hits / total


def test_pq_ivf_pq_empty_and_null_queries(spark, sf_dir):
    """r8 ADVICE: an empty queries frame — or one whose vectors are
    all NULL/short, which the probe builders drop — left `branch`
    None and crashed F.explode(None) in ivf_pq_topk (and the
    zero-struct F.array() in pq_adc_topk).  Both now early-return a
    typed empty (qid, id, dist, rank) frame."""
    from pyspark.sql import functions as F

    from benthos_spark.llm.similarity import (
        ivf_pq_topk, kmeans_l2, pq_adc_topk, train_pq_codebooks)

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_l2(
        [r["embedding"] for r in
         corpus.filter(F.col("vec_id") < 64).orderBy("vec_id")
         .collect()], 4, 3)
    books = train_pq_codebooks(corpus, sample=64)
    empty = corpus.limit(0).withColumnRenamed("vec_id", "query_id")
    nullq = (corpus.limit(2).withColumnRenamed("vec_id", "query_id")
             .withColumn("embedding", F.lit(None).cast("array<float>")))
    shortq = (corpus.limit(2).withColumnRenamed("vec_id", "query_id")
              .withColumn("embedding",
                          F.expr("slice(embedding, 1, 3)")))
    for q in (empty, nullq, shortq):
        for res in (ivf_pq_topk(corpus, q, cents, books, k=3),
                    ivf_pq_topk(corpus, q, cents, books, k=3,
                                shortlist=10),
                    pq_adc_topk(corpus, q, books, k=3)):
            assert res.count() == 0
            assert res.columns == ["query_id", "vec_id", "dist",
                                   "rank"]
            assert [f.dataType.simpleString()
                    for f in res.schema.fields] == \
                ["bigint", "bigint", "double", "int"]


def test_ivf_pq_indexed_matches_in_query_training(spark, sf_dir,
                                                  tmp_path):
    """write_ivf_pq_index + ivf_pq_topk_indexed (r8 verdict ask #2)
    must return BIT-IDENTICAL rows to ivf_pq_topk given the same
    trained quantizers — the parquet round trip of centroids/
    codebooks is float64-exact and the scoring tail is shared.  Also
    pins: the meta subdir is invisible to readers of the main table,
    and the shortlist rerank demands the raw-vector corpus."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from benthos_spark.llm.similarity import (ivf_pq_topk,
                                              ivf_pq_topk_indexed,
                                              train_ivf_centroids,
                                              train_pq_codebooks,
                                              write_ivf_pq_index)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_centroids=4, sample=128,
                                iters=3)
    books = train_pq_codebooks(emb, m=8, k=8, sample=128, iters=3)
    qs = emb.filter(F.col("vec_id") < 4) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
    path = str(tmp_path / "ivfpq")
    write_ivf_pq_index(emb, path, cents, books)
    # main-table readers never see the meta rows
    main = spark.read.parquet(path)
    assert set(main.columns) == {"vec_id", "__code", "__list"}
    for kw in ({}, {"shortlist": 20}):
        a = sorted(tuple(r) for r in ivf_pq_topk(
            emb, qs, cents, books, k=5, n_probe=2, **kw).collect())
        b = sorted(tuple(r) for r in ivf_pq_topk_indexed(
            spark, path, qs, corpus=emb, k=5, n_probe=2,
            **kw).collect())
        assert a == b and a, (len(a), len(b))
    with _pt.raises(ValueError, match="corpus"):
        ivf_pq_topk_indexed(spark, path, qs, k=5, n_probe=2,
                            shortlist=20)
