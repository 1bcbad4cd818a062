"""Focused equivalence tests for the round-9 optimization rewrites.

Every optimization that changed an operator's INTERNALS gets a direct
old-vs-new (or spec-vs-impl) equality gate here, on adversarial inputs
the bench fixtures don't exercise — NULL/short vectors, group
boundaries straddling Arrow batches, unicode/astral text, $ENV
programs.  The bench-scale results are already gated by the DuckDB
oracles; these pin the edge behavior.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _rand_vecs(n, d, seed, null_every=0, short_every=0):
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        if null_every and i % null_every == 5:
            rows.append((i, None))
        elif short_every and i % short_every == 7:
            rows.append((i, [rnd.uniform(-1, 1) for _ in range(d // 2)]))
        else:
            rows.append((i, [rnd.uniform(-1, 1) for _ in range(d)]))
    return rows


# ---------------------------------------------------------------- fused
# assign+encode kernel == chained _assign_corpus_flat → pq_encode


def test_fused_assign_encode_matches_chained(spark):
    from benthos_spark.llm.similarity import (_FLAT_ASSIGN_MAX_TERMS,
                                              _assign_corpus_flat,
                                              _assign_encode_kernel,
                                              kmeans_l2,
                                              kmeans_unit_sphere,
                                              pq_encode)

    d, m = 16, 4
    rows = _rand_vecs(120, d, seed=11, null_every=13, short_every=17)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sample = [[float(x) for x in v] for _, v in rows
              if v is not None and len(v) == d][:64]
    # 13 centroids × d=16 = 208 terms > _FLAT_ASSIGN_MAX_TERMS, so the
    # chained reference takes the Arrow-kernel assignment path — the
    # ONLY path defined on short vectors (the flat SQL path ANSI-errors
    # on them by documented pre-r9 design, similarity.py:393-397)
    n_cents = 13
    assert n_cents * d > _FLAT_ASSIGN_MAX_TERMS
    cents = kmeans_unit_sphere(sample, n_cents, 3)
    dsub = d // m
    books = [kmeans_l2([v[j * dsub:(j + 1) * dsub] for v in sample],
                       8, 3) for j in range(m)]

    chained = (pq_encode(
        _assign_corpus_flat(df.select("vec_id", "embedding"),
                            cents, "embedding"),
        books, "embedding")
        .select("vec_id", "__list", "__code"))

    # no pruning: every row must round-trip, sentinels included
    fused_all = _assign_encode_kernel(df, cents, books,
                                      "embedding", "vec_id")
    a = {r["vec_id"]: (r["__list"], list(r["__code"]))
         for r in chained.collect()}
    b = {r["vec_id"]: (r["__list"], list(r["__code"]))
         for r in fused_all.collect()}
    assert a == b

    # pruned: equals chained + isin filter + nonempty-code filter
    lists = [0, 2]
    pruned_chained = {
        r["vec_id"]: (r["__list"], list(r["__code"]))
        for r in chained.filter(F.col("__list").isin(lists))
        .filter(F.size("__code") > 0).collect()}
    pruned_fused = {
        r["vec_id"]: (r["__list"], list(r["__code"]))
        for r in _assign_encode_kernel(df, cents, books, "embedding",
                                       "vec_id", lists=lists).collect()}
    assert pruned_chained == pruned_fused

    # flat-SQL reference path (small k·d): NULLs supported, no shorts
    rows_f = _rand_vecs(80, d, seed=12, null_every=11)
    df_f = spark.createDataFrame(rows_f,
                                 "vec_id long, embedding array<float>")
    cents_f = kmeans_unit_sphere(sample, 4, 3)
    assert 4 * d <= _FLAT_ASSIGN_MAX_TERMS
    chained_f = {r["vec_id"]: (r["__list"], list(r["__code"]))
                 for r in pq_encode(
                     _assign_corpus_flat(df_f, cents_f, "embedding"),
                     books, "embedding")
                 .select("vec_id", "__list", "__code").collect()}
    fused_f = {r["vec_id"]: (r["__list"], list(r["__code"]))
               for r in _assign_encode_kernel(
                   df_f, cents_f, books, "embedding",
                   "vec_id").collect()}
    assert chained_f == fused_f


# ---------------------------------------------------------------- JVM L2
# fold == Arrow pair UDF (incl. NULL / length-mismatch semantics)


def test_l2_fold_sql_matches_pair_udf(spark):
    from benthos_spark.llm.similarity import _l2_fold_sql, _l2_pair_udf

    rnd = random.Random(23)
    rows = []
    for i in range(60):
        a = [rnd.uniform(-5, 5) for _ in range(8)]
        b = [rnd.uniform(-5, 5) for _ in range(8)]
        rows.append((i, a, b))
    rows += [(100, None, [1.0] * 8),          # NULL side
             (101, [1.0] * 8, None),
             (102, [1.0] * 4, [1.0] * 8)]     # length mismatch
    df = spark.createDataFrame(
        rows, "i long, a array<float>, b array<float>")
    out = df.select(
        "i",
        _l2_fold_sql(F.col("a"), F.col("b")).alias("sql"),
        _l2_pair_udf()(F.col("a"), F.col("b")).alias("udf")).collect()
    for r in out:
        if r["udf"] is None:
            assert r["sql"] is None, r["i"]
        else:
            # bit-exact: same left-to-right float64 fold
            assert r["sql"] == r["udf"], r["i"]


# ---------------------------------------------------------------- driver
# probe sets == the distributed _query_probes_flat contract


def test_collect_probes_matches_query_probes_flat(spark):
    from benthos_spark.llm.similarity import (_FLAT_ASSIGN_MAX_TERMS,
                                              _collect_probes,
                                              _query_probes_flat,
                                              kmeans_unit_sphere)

    d = 24
    rows = _rand_vecs(30, d, seed=31, null_every=6, short_every=9)
    q = spark.createDataFrame(
        rows, "query_id long, embedding array<float>")
    sample = [[float(x) for x in v] for _, v in rows
              if v is not None and len(v) == d][:16]
    # 9 × 24 = 216 terms forces _query_probes_flat down its Arrow-kernel
    # path — the path whose NULL/short-drop semantics _collect_probes
    # mirrors (the flat SQL path NULL-sim-probes resp. ANSI-errors on
    # those shapes by documented design, similarity.py:461-463)
    cents = kmeans_unit_sphere(sample, 9, 3)
    assert 9 * d > _FLAT_ASSIGN_MAX_TERMS

    qvecs, by_list = _collect_probes(q, cents, 2, "embedding",
                                     "query_id")
    ref = _query_probes_flat(q, cents, 2, "embedding", "query_id",
                             checkpoint=False) \
        .select("query_id", "__list").collect()
    ref_pairs = {(r["query_id"], r["__list"]) for r in ref}
    got_pairs = {(qid, li) for li, qs in by_list.items() for qid in qs}
    assert got_pairs == ref_pairs
    # dropped rows (NULL/short) must not appear in qvecs either
    assert set(qvecs) == {qid for qid, _ in got_pairs}


# ---------------------------------------------------------------- near-dup
# group slicing must survive groups straddling Arrow batches


def test_embedding_near_dup_group_spans_arrow_batches(spark):
    from benthos_spark.llm.dedup import (default_hyperplanes,
                                         embedding_near_dup_pairs)

    rnd = random.Random(41)
    base = [rnd.uniform(-1, 1) for _ in range(16)]
    # many near-identical vectors -> one dense bucket far larger than
    # the forced 3-row Arrow batch, so the kernel MUST stitch the
    # bucket across batch boundaries to find all pairs
    rows = [(i, [x + rnd.uniform(-1e-3, 1e-3) for x in base])
            for i in range(40)]
    rows += [(100 + i, [rnd.uniform(-1, 1) for _ in range(16)])
             for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = default_hyperplanes(16, 16, seed=5)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        tiny = {(r["id_a"], r["id_b"], r["cos"]) for r in
                embedding_near_dup_pairs(df, threshold=0.9,
                                         planes=planes,
                                         bands=2).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       prev)
    full = {(r["id_a"], r["id_b"], r["cos"]) for r in
            embedding_near_dup_pairs(df, threshold=0.9, planes=planes,
                                     bands=2).collect()}
    assert tiny == full
    assert len(full) >= (40 * 39) // 2  # the dense cluster is all-pairs


# ---------------------------------------------------------------- langid
# vectorized classifier == the per-char reference on adversarial text


def test_langid_vectorized_matches_reference(spark):
    import numpy as np

    from benthos_spark.llm import text as T
    from benthos_spark.llm.langid_model import (D, LANGS, NGRAMS,
                                                load_weights)

    W, b = load_weights()

    def classify_ref(t, default="unknown", min_conf=0.3):
        """The pre-r9 per-char implementation, verbatim."""
        import zlib as _z
        if not t or not t.strip():
            return default
        sample = t[:400]
        counts: dict = {}
        letters = 0
        for ch in sample:
            o = ord(ch)
            if ch.isalpha():
                letters += 1
            for lo, hi, code in T._SCRIPT_RANGES:
                if lo <= o <= hi:
                    counts[code] = counts.get(code, 0) + 1
                    break
        if letters == 0:
            return default
        for lo, hi, code in T._SCRIPT_RANGES:
            if counts.get(code, 0) > 0.3 * letters:
                return code
        s = " " + " ".join(sample.lower().split()) + " "
        x = np.zeros(D, dtype=np.float32)
        for n in NGRAMS:
            for i in range(len(s) - n + 1):
                x[_z.crc32(s[i:i + n].encode("utf-8")) % D] += 1.0
        nrm = float(np.linalg.norm(x))
        if nrm == 0.0:
            return default
        x2 = x / nrm
        z = x2 @ W + b
        z -= z.max()
        p = np.exp(z)
        p /= p.sum()
        best = int(p.argmax())
        if LANGS[best] == "xx" or float(p[best]) < min_conf:
            return default
        return LANGS[best]

    samples = [
        "The quick brown fox jumps over the lazy dog",
        "Le renard brun rapide saute par-dessus le chien paresseux",
        "Быстрая коричневая лиса прыгает через ленивую собаку",
        "敏捷的棕色狐狸跳过了懒惰的狗然后跑走了",
        "すばやい茶色のキツネは怠け者の犬を飛び越えます",
        "한국어 텍스트 예시입니다 안녕하세요",
        "نص عربي للاختبار مرحبا بالعالم",
        "שלום עולם טקסט בעברית",
        "Ελληνικό κείμενο για δοκιμή",
        "हिंदी में परीक्षण पाठ",
        "ข้อความภาษาไทยสำหรับทดสอบ",
        "", "   ", None, "123 456 789",
        "mixed 日本語 and english text",
        "café résumé naïve ünïcode tæxt",
        "\U00010400\U00010401 astral letters",
        "a" * 1000,
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "i long, t string").coalesce(1)
    got = {r["i"]: r["p"] for r in df.select(
        "i", T.lang_id_model(F.col("t")).alias("p")).collect()}
    for i, s in enumerate(samples):
        assert got[i] == classify_ref(s), (i, s)


def test_crc32_windows_equals_zlib():
    import zlib

    import numpy as np

    from benthos_spark.llm.text import _crc32_windows

    rnd = random.Random(7)
    data = bytes(rnd.randrange(256) for _ in range(512))
    b = np.frombuffer(data, dtype=np.uint8)
    for n in (1, 2, 3, 4, 9):
        vec = _crc32_windows(b, n)
        ref = np.array([zlib.crc32(data[i:i + n])
                        for i in range(len(data) - n + 1)],
                       dtype=np.uint32)
        assert np.array_equal(vec, ref), n


# ---------------------------------------------------------------- jq $ENV


def test_jq_env_lazy_still_resolves(monkeypatch):
    from benthos_spark.operators.jq import parse_jq, jq_eval_text

    monkeypatch.setenv("R9_JQ_PROBE", "v9")
    assert jq_eval_text(parse_jq("$ENV.R9_JQ_PROBE"), "{}") == '"v9"'
    assert jq_eval_text(parse_jq("env.R9_JQ_PROBE"), "{}") == '"v9"'
    # a user binding shadows the builtin $ENV, as before
    assert jq_eval_text(parse_jq('"x" as $ENV | $ENV'), "{}") == '"x"'
    with pytest.raises(Exception, match="not defined"):
        jq_eval_text(parse_jq("$definitely_not_defined"), "{}")


# ---------------------------------------------------------------- window
# pair generation == the old banded self-join


def test_minhash_pairs_window_matches_self_join(spark):
    from benthos_spark.llm.dedup import (MINHASH_PERMS,
                                         _banded_signatures_arrow,
                                         minhash_lsh_pairs,
                                         shingle_hash_frame)

    rows = [(i, f"the quick brown fox template {'x' if i % 4 else 'y'}")
            for i in range(60)]          # dense shared buckets
    rows += [(100 + i, f"unique document number {i} with its own words")
             for i in range(20)]
    rows += [(900, None), (901, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r["id_a"], r["id_b"])
           for r in minhash_lsh_pairs(docs, bands=4).collect()}

    hashed = shingle_hash_frame(docs, "text", "doc_id", 3)
    banded = _banded_signatures_arrow(hashed, "doc_id", 4,
                                      len(MINHASH_PERMS) // 4)
    left, right = banded.alias("l"), banded.alias("r")
    ref = {(r["id_a"], r["id_b"]) for r in
           left.join(right, (F.col("l.band") == F.col("r.band"))
                     & (F.col("l.band_key") == F.col("r.band_key"))
                     & (F.col("l.doc_id") < F.col("r.doc_id")))
           .select(F.col("l.doc_id").alias("id_a"),
                   F.col("r.doc_id").alias("id_b"))
           .distinct().collect()}
    assert got == ref and got


# ---------------------------------------------------------------- fused
# unigram+bigram count kernel == the two separate count tables


def test_fused_gram_counts_match_separate_tables(spark):
    from benthos_spark.llm.grams import (bigram_partial_counts,
                                         unigram_bigram_partial_counts)
    from benthos_spark.llm.text import unigram_counts

    rows = [
        (0, "the quick brown fox the quick"),
        (1, "\tleading tab  double  space "),      # empty split fields
        (2, ""), (3, None), (4, "   "),
        (5, "ünïcode tökens ünïcode"),
        (6, "single"),
        (7, "a b a b a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fused = unigram_bigram_partial_counts(df, "text")
    uni_f = {(r["g"], r["n"]) for r in
             fused.filter(~F.col("is_bi")).collect()}
    bi_f = {(r["g"], r["n"]) for r in
            fused.filter(F.col("is_bi")).collect()}
    uni_ref = {(r["token"], r["n"])
               for r in unigram_counts(df, "text").collect()}
    bi_ref = {(r["bg"], r["nbg"])
              for r in bigram_partial_counts(df, "text").collect()}
    assert uni_f == uni_ref
    assert bi_f == bi_ref


# ---------------------------------------------------------------- CC rounds
# on a deep path, cliques and an isolated edge agree with min-id labels


def test_cc_union_rounds_match_on_deep_graph(spark):
    from benthos_spark.llm.dedup import connected_components

    # a long path (needs several hooking/shortcutting rounds)
    # plus two cliques and isolated self-edges
    edges = [(i, i + 1) for i in range(40)]
    edges += [(100, 101), (101, 102), (100, 102)]
    edges += [(200, 201)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r["doc_id"]: r["component"]
           for r in connected_components(df).collect()}
    assert all(out[i] == 0 for i in range(41))
    assert out[100] == out[101] == out[102] == 100
    assert out[200] == out[201] == 200
