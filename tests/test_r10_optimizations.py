"""Focused tests for the round-10 optimization/correctness changes.

Same discipline as test_r09_optimizations.py: every change to an
operator's internals gets a direct equivalence gate on inputs the
bench fixtures don't exercise (NULL group keys, non-finite floats,
lone surrogates).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# --------------------------------------------------- batch_functions
# groupBy+join form must keep NULL-user rows exactly like the window
# form (the sf fixtures contain no NULL user_ids, so the oracle gate
# can't see this; r9 ADVICE found the inner join dropped them).


def test_batch_functions_keeps_null_user_rows(spark, tmp_path):
    import __spark_entry__ as entry

    rows = [
        # (event_id, user_id, event_type)
        (1, 10, "click"), (2, 10, "view"), (3, None, "click"),
        (4, 20, "view"), (5, None, "buy"), (6, None, "click"),
        (7, 20, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string")
    sf_dir = str(tmp_path)
    ev.write.parquet(f"{sf_dir}/events.parquet")

    got = entry.base_queries()["batch_functions"](spark, sf_dir)

    # window-form reference == the DuckDB oracle semantics
    w = Window.partitionBy("user_id").orderBy("event_id")
    wu = Window.partitionBy("user_id")
    ref = ev.select(
        "event_id",
        (F.row_number().over(w) - 1).alias("batch_index"),
        F.count("*").over(wu).alias("batch_size"),
        F.first("event_type").over(w).alias("from_first"),
        F.array_join(F.sort_array(F.collect_list("event_type").over(wu)),
                     ",").alias("from_all_types"))

    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, ref.collect()))
    assert len(a) == len(rows)  # NULL-key rows kept
    assert a == b


# --------------------------------------------------------- _sql_double
# non-finite doubles must render as parseable SQL (r9 ADVICE: repr(inf)
# + 'E0' was a parse error).


def test_sql_double_non_finite(spark):
    import math

    from benthos_spark.llm.similarity import _sql_double

    vals = [float("nan"), float("inf"), float("-inf"),
            0.1, -2.5e-300, 3.0, 1e308]
    sql = "SELECT " + ", ".join(
        f"{_sql_double(v)} AS c{i}" for i, v in enumerate(vals))
    row = spark.sql(sql).collect()[0]
    assert math.isnan(row["c0"])
    assert row["c1"] == float("inf")
    assert row["c2"] == float("-inf")
    for i, v in enumerate(vals[3:], start=3):
        assert row[f"c{i}"] == v and repr(row[f"c{i}"]) == repr(v)


# ------------------------------------------------ langid surrogates
# tier 1 used sample.encode('utf-32-le'), which raises on lone
# surrogates; the fallback must classify them like the original
# per-char ord() loop did (surrogates are non-alpha).


def test_langid_classifier_lone_surrogate():
    from benthos_spark.llm.langid_model import load_weights
    from benthos_spark.llm.text import _make_langid_classifier

    W, b = load_weights()
    clf = _make_langid_classifier(W, b, "unknown", 0.3)

    # must not raise, and surrogates count as non-letters
    assert clf("𐏿 \ud800") == "unknown"
    # surrounding real text still classifies
    eng = "The quick brown fox jumps over the lazy dog"
    assert clf(eng + " \ud800") == clf(eng)
    # unicode-script tier still wins with a surrogate present
    assert clf("すばやい茶色のキツネは怠け者の犬 \ud800") == "ja"


# -------------------------------------------------- minhash hot cap
# r10: pair generation is groupBy-list form with a documented cap on
# bucket size; past it the task fails with the star-edges pointer
# instead of silently serializing an O(b²) explode in one task.


def test_minhash_hot_cap_raises_with_pointer(spark):
    from benthos_spark.llm.dedup import (MINHASH_PERMS,
                                         _banded_signatures_arrow,
                                         minhash_lsh_pairs,
                                         shingle_hash_frame)

    # one mega-bucket: identical text → identical signatures
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere")
         for i in range(50)], "doc_id long, text string")
    with pytest.raises(Exception) as ei:
        minhash_lsh_pairs(docs, hot_cap=10).collect()
    msg = str(ei.value)
    assert "star_edges" in msg and "has 50 members" in msg
    # the error names the offending bucket: one of the doc's band keys
    keys = {(r["band"], r["band_key"]) for r in _banded_signatures_arrow(
        shingle_hash_frame(docs, "text", "doc_id", 3), "doc_id", 4,
        len(MINHASH_PERMS) // 4).collect()}
    assert len(keys) == 4
    assert any(f"band={b} band_key={k} " in msg for b, k in keys), msg
    # under the cap: same pair set as uncapped
    a = {tuple(r) for r in
         minhash_lsh_pairs(docs, hot_cap=64).collect()}
    b = {tuple(r) for r in
         minhash_lsh_pairs(docs, hot_cap=None).collect()}
    assert a == b and len(a) == 50 * 49 // 2
