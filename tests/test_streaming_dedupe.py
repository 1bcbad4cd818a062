"""Streaming MinHash-LSH dedupe gates (r6 verdict ask #5).

stream==batch equivalence the way streaming_replay gates windows: the
same parquet drained INCREMENTALLY (multiple micro-batches, both
id-ordered and adversarially shuffled arrival) must mark exactly the
batch star-edge `id_b` duplicate set.  Plus the TTL contract: an idle
bucket's state expires, so a duplicate arriving after the TTL horizon
is (by design) missed.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                        "/root/testdata/sf0.001")


def _batch_dup_set(spark, docs_df):
    from benthos_spark.llm.dedup import minhash_lsh_star_edges
    return {r["id_b"] for r in minhash_lsh_star_edges(docs_df, bands=4)
            .select("id_b").distinct().collect()}


def _drain_marks(spark, src_dir, max_files=1, await_secs=300,
                 provider=None, shards=1024):
    """Drain src_dir with maxFilesPerTrigger=max_files; returns
    (distinct dup ids, number of micro-batches).  `provider` overrides
    the state-store provider class for this drain (latches at query
    start; restored after)."""
    from benthos_spark.streaming.dedupe import streaming_minhash_dup_marks

    schema = spark.read.parquet(src_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files).parquet(src_dir))
    marks = streaming_minhash_dup_marks(stream, shards=shards)
    name = "sdedupe_" + uuid.uuid4().hex[:10]
    ckpt = tempfile.mkdtemp(prefix="sdedupe_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev_prov = spark.conf.get(prov_key, None)
    if provider is not None:
        spark.conf.set(prov_key, provider)
    try:
        q = (marks.writeStream.format("memory").queryName(name)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(await_secs)
        n_batches = len([p for p in q.recentProgress
                         if p["numInputRows"] > 0])
        dups = {r["doc_id"] for r in spark.table(name)
                .select("doc_id").distinct().collect()}
        return dups, n_batches
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if provider is not None:
            if prev_prov is not None:
                spark.conf.set(prov_key, prev_prov)
            else:
                spark.conf.unset(prov_key)
        shutil.rmtree(ckpt, ignore_errors=True)


def _split_parquet(path, out_dir, n_files, order="asc"):
    """Split the documents table into n_files part files by id rank;
    `order="desc"` names the HIGH-id slice part-0000 so the file
    stream replays arrival in reverse id order."""
    tbl = pq.read_table(path)
    tbl = tbl.sort_by("doc_id")
    n = tbl.num_rows
    per = (n + n_files - 1) // n_files
    slices = [tbl.slice(i * per, per) for i in range(n_files)]
    if order == "desc":
        slices = slices[::-1]
    os.makedirs(out_dir, exist_ok=True)
    for i, s in enumerate(slices):
        pq.write_table(s, os.path.join(out_dir, f"part-{i:04d}.parquet"))
        # file source orders by modification time; space them out
        t = time.time() + i * 0.01
        os.utime(os.path.join(out_dir, f"part-{i:04d}.parquet"), (t, t))


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_incremental_drain_matches_batch_id_ordered(spark, tmp_path):
    src = str(tmp_path / "asc")
    _split_parquet(f"{SF_DIR}/documents.parquet", src, 4, "asc")
    dups, n_batches = _drain_marks(spark, src, max_files=1)
    assert n_batches >= 4, "drain must actually be incremental"
    batch = _batch_dup_set(spark, spark.read.parquet(src))
    assert dups == batch and batch


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_shuffled_arrival_matches_batch(spark, tmp_path):
    """Arrival-order independence: when high ids arrive FIRST, early
    bucket roots get dethroned by later smaller ids — the dethroned
    root must be emitted retroactively, so the drained mark SET still
    equals the batch surface."""
    src = str(tmp_path / "desc")
    _split_parquet(f"{SF_DIR}/documents.parquet", src, 4, "desc")
    dups, n_batches = _drain_marks(spark, src, max_files=1)
    assert n_batches >= 4
    batch = _batch_dup_set(spark, spark.read.parquet(src))
    assert dups == batch and batch


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
@pytest.mark.parametrize("order", ["asc", "desc"])
def test_marks_independent_of_shard_count(spark, tmp_path, order):
    """Sharding only groups buckets, so the drained mark set is the
    same at every shard count — what lets drain_sizing pick the count
    from the corpus size.  Checked on the id-ordered and the shuffled
    (high ids first) arrival."""
    src = str(tmp_path / order)
    _split_parquet(f"{SF_DIR}/documents.parquet", src, 4, order)
    batch = _batch_dup_set(spark, spark.read.parquet(src))
    assert batch
    for shards in (1, 2, 16, 1024):
        dups, n_batches = _drain_marks(spark, src, max_files=1,
                                       shards=shards)
        assert n_batches >= 4
        assert dups == batch, shards


def test_drain_sizing_rule(spark, tmp_path):
    """shards = ceil(bands·rows / 10_000), at least 1; state partitions
    = min(shards, defaultParallelism).  A path that is not a local
    file or directory (here a file:// URI) is counted by Spark and
    sized the same."""
    import pyarrow as pa

    from benthos_spark.streaming.dedupe import drain_sizing

    par = spark.sparkContext.defaultParallelism
    for rows, shards in ((0, 1), (2500, 1), (2501, 2), (100_000, 40)):
        path = str(tmp_path / f"docs{rows}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(range(rows),
                                                    pa.int64())}), path)
        assert drain_sizing(spark, path, 4) == \
            (shards, min(shards, par)), rows
    assert drain_sizing(spark, "file://" + path, 4) == (40, min(40, par))


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_directory_corpus_sized_like_single_file(spark, tmp_path):
    """A directory corpus sums its part files' footers (hidden files
    skipped, as the file source skips them), so the same rows split
    across 3 files get the same shard/partition counts and the same
    marks as the single file."""
    from benthos_spark.streaming.dedupe import (corpus_rows, drain_sizing,
                                                replay_minhash_dedupe)

    src = f"{SF_DIR}/documents.parquet"
    parts = str(tmp_path / "parts")
    _split_parquet(src, parts, 3)
    shutil.copy(src, os.path.join(parts, "_ignored.parquet"))
    assert corpus_rows(spark, parts) == corpus_rows(spark, src) \
        == spark.read.parquet(parts).count()
    assert drain_sizing(spark, parts, 4) == drain_sizing(spark, src, 4)
    from_dir = {r["dup_doc_id"] for r in
                replay_minhash_dedupe(spark, parts).collect()}
    from_file = {r["dup_doc_id"] for r in
                 replay_minhash_dedupe(spark, src).collect()}
    assert from_dir == from_file and from_file


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_small_corpus_drains_in_one_state_task(spark):
    """A 500-row corpus is one shard, so the drain's stateful stage runs
    exactly one Python task instead of several that would mostly read
    no rows.  Counted from the status tracker: the drain's
    jobs lie between two marker jobs, and a micro-batch job's result
    stage (its highest stage id) is the stateful one."""
    from benthos_spark.streaming.dedupe import (corpus_rows,
                                                replay_minhash_dedupe)

    src = f"{SF_DIR}/documents.parquet"
    assert corpus_rows(spark, src) <= 2500
    sc = spark.sparkContext
    st = sc.statusTracker()

    def marker_job():
        sc.setJobGroup("drain_marker", "bounds the drain's job ids")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setJobGroup(None, None)
        return max(st.getJobIdsForGroup("drain_marker"))

    first = marker_job()
    replay_minhash_dedupe(spark, src)
    last = marker_job()
    jobs = [st.getJobInfo(j) for j in range(first + 1, last)]
    assert all(jobs)
    state_tasks = [st.getStageInfo(max(j.stageIds)).numTasks
                   for j in jobs if len(j.stageIds) > 1]
    assert state_tasks == [1]


def test_ttl_expires_idle_bucket_state(spark, tmp_path):
    """A duplicate arriving after the bucket's TTL horizon is missed
    (state evicted) — the documented recall/state-size tradeoff.  Three
    micro-batches: [root doc] → [unrelated doc, after TTL — processes
    the timeout] → [duplicate of root, must NOT be marked]."""
    import pyarrow as pa

    from benthos_spark.streaming.dedupe import streaming_minhash_dup_marks

    body = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words about spark streaming state"
    src = str(tmp_path / "ttl_src")
    os.makedirs(src)

    def write_doc(i, doc_id, text):
        pq.write_table(pa.table({"doc_id": pa.array([doc_id], pa.int64()),
                                 "text": [text]}),
                       os.path.join(src, f"f-{i:03d}.parquet"))

    write_doc(0, 1, body)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    marks = streaming_minhash_dup_marks(stream, ttl_ms=1000)
    name = "sdedupe_ttl_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="sdedupe_ttl_")
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    q = (marks.writeStream.format("memory").queryName(name)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(processingTime="500 milliseconds").start())
    try:
        def wait_batches(n, timeout=60):
            t0 = time.time()
            while time.time() - t0 < timeout:
                done = len([p for p in q.recentProgress
                            if p["numInputRows"] > 0])
                if done >= n:
                    return
                time.sleep(0.3)
            raise TimeoutError(f"only saw {n} data batches")

        wait_batches(1)          # root's bucket state is live
        time.sleep(2.5)          # > ttl: state is now expirable
        write_doc(1, 2, other)   # data batch → timeout processing runs
        wait_batches(2)
        write_doc(2, 3, body)    # exact dup of doc 1 — bucket forgot it
        wait_batches(3)
        time.sleep(1.0)
        dups = {r["doc_id"] for r in spark.table(name)
                .select("doc_id").distinct().collect()}
        assert 3 not in dups, (
            "bucket state should have expired before the dup arrived")
    finally:
        q.stop()
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_no_ttl_same_gap_still_detects(spark, tmp_path):
    """Positive control for the TTL test: identical timeline WITHOUT a
    TTL must mark the late duplicate — proving the miss above is the
    eviction, not the timeline."""
    import pyarrow as pa

    from benthos_spark.streaming.dedupe import streaming_minhash_dup_marks

    body = "the quick brown fox jumps over the lazy dog again and again"
    src = str(tmp_path / "nottl_src")
    os.makedirs(src)
    pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64()),
                             "text": [body]}),
                   os.path.join(src, "f-000.parquet"))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    marks = streaming_minhash_dup_marks(stream)   # no ttl
    name = "sdedupe_nt_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="sdedupe_nt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    q = (marks.writeStream.format("memory").queryName(name)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(processingTime="500 milliseconds").start())
    try:
        time.sleep(2.5)
        pq.write_table(pa.table({"doc_id": pa.array([3], pa.int64()),
                                 "text": [body]}),
                       os.path.join(src, "f-002.parquet"))
        t0 = time.time()
        dups = set()
        while time.time() - t0 < 60 and 3 not in dups:
            time.sleep(0.5)
            dups = {r["doc_id"] for r in spark.table(name)
                    .select("doc_id").distinct().collect()}
        assert 3 in dups
    finally:
        q.stop()
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_rocksdb_state_store_provider(spark, tmp_path):
    """r7 verdict ask #3: the documented production config for the
    streaming dedupe is the RocksDB state-store provider (the default
    HDFS-backed store keeps every state key resident in executor
    memory — a 100 TB cliff).  The same incremental drain under
    RocksDB must produce the identical duplicate set."""
    from benthos_spark.streaming.dedupe import (ROCKSDB_PROVIDER,
                                                rocksdb_state_conf)

    assert rocksdb_state_conf()[
        "spark.sql.streaming.stateStore.providerClass"] \
        == ROCKSDB_PROVIDER
    src = str(tmp_path / "rocks")
    _split_parquet(f"{SF_DIR}/documents.parquet", src, 3, "desc")
    dups_mem, _ = _drain_marks(spark, src, max_files=1)
    dups_rocks, n_batches = _drain_marks(spark, src, max_files=1,
                                         provider=ROCKSDB_PROVIDER)
    assert n_batches >= 3
    batch = _batch_dup_set(spark, spark.read.parquet(src))
    assert dups_rocks == dups_mem == batch and batch


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_replay_rocksdb_flag_equivalence(spark):
    """r8 verdict ask #5: `replay_minhash_dedupe(..., rocksdb=True)`
    (or BENTHOS_SPARK_ROCKSDB_STATE=1) must run the drain under the
    RocksDB provider in ONE switch and return the identical duplicate
    set — and the provider conf must be restored afterwards."""
    from benthos_spark.streaming.dedupe import replay_minhash_dedupe

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    mem = {r["dup_doc_id"] for r in replay_minhash_dedupe(
        spark, f"{SF_DIR}/documents.parquet").collect()}
    rocks = {r["dup_doc_id"] for r in replay_minhash_dedupe(
        spark, f"{SF_DIR}/documents.parquet", rocksdb=True).collect()}
    assert rocks == mem and mem
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before


_BP_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "testdata_sf0.1bp")


@pytest.mark.skipif(not os.path.isdir(_BP_DIR),
                    reason="bp fixture not generated "
                           "(tools/gen_scale_data.py 0.1 bp)")
def test_drain_equals_batch_on_megabucket_fixture(spark):
    """r8 verdict ask #4: the adversarial boilerplate fixture plants
    a multi-thousand-member near-dup bucket whose band keys all land
    in ONE shard — the worst case for the sharded drain (one Python
    call carries the hot bucket every micro-batch).  The incremental
    drain must still equal the batch star-edge set, and the hot
    bucket must actually be hot (the dup population is a large slice
    of the corpus, unlike the uniform fixtures)."""
    from benthos_spark.streaming.dedupe import replay_minhash_dedupe

    src = f"{_BP_DIR}/documents.parquet"
    total = spark.read.parquet(src).count()
    drained = {r["dup_doc_id"] for r in
               replay_minhash_dedupe(spark, src).collect()}
    batch = _batch_dup_set(spark, spark.read.parquet(src))
    assert drained == batch and batch
    # the mega-bucket population: a substantial share of the corpus
    # dedupes away (the uniform sf fixtures sit far below this)
    assert len(batch) / total > 0.15, (len(batch), total)
