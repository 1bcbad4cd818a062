"""Replay harness: run a transformation through the REAL incremental
engine (file stream source → memory sink, Trigger.AvailableNow) and
return the result as a batch DataFrame.

This is the oracle bridge for streaming semantics (SURVEY §2.5): a
bounded table replayed as a stream must produce the same rows the batch
plan produces, so the streaming operators (watermarks, state stores,
session merges, applyInPandasWithState) become hash-checkable against
plain SQL.  Reference analogue: the reference's tests feed a pipeline a
finite input and assert the flushed batches; Trigger.AvailableNow is
the same drain-everything contract on Spark's engine.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _replay_tmp_root() -> str | None:
    """Root for the replay's throwaway checkpoint/source dirs.  A
    bounded AvailableNow drain never restarts, so its checkpoint has
    no durability requirement — prefer tmpfs (/dev/shm) when present:
    the state-store + offset/commit-log fsyncs are ~9% of the gate's
    wall on disk and free in memory.  Production streams pass their
    own durable checkpointLocation and never come through here.

    tmpfs is typically capped at 50% of RAM, so /dev/shm is only used
    when it has ≥1 GiB free (replay checkpoints are offset logs + HDFS
    state-store deltas — MBs for the gate's drains; the GiB bar leaves
    two orders of magnitude of headroom before an ENOSPC could beat a
    disk run).  `SPARK_GRAFT_REPLAY_TMP=<dir>` forces a specific root;
    `SPARK_GRAFT_REPLAY_TMP=disk` forces the system temp dir."""
    import os

    override = os.environ.get("SPARK_GRAFT_REPLAY_TMP")
    if override:
        return None if override == "disk" else override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 1 << 30:
                return shm
        except OSError:
            pass
    return None


def _start_replay(spark: SparkSession, path: str,
                  transform: Callable[[DataFrame], DataFrame],
                  output_mode: str, schema=None,
                  tmp_root: str | None = None):
    """Start one AvailableNow drain; returns (query, sink_name,
    cleanup_dirs).  Caller owns shuffle-partition pinning and await.
    `schema`/`tmp_root` let a multi-drain caller amortize fixed setup
    (one footer read per distinct path, one shared temp root)."""
    import os

    if schema is None:
        schema = spark.read.parquet(path).schema
    src_dir = None
    if os.path.isfile(path):
        # the file stream source lists a DIRECTORY; symlink the single
        # file into a temp dir rather than copying the data
        src_dir = tempfile.mkdtemp(prefix="bs_replay_src_", dir=tmp_root)
        os.symlink(os.path.abspath(path),
                   os.path.join(src_dir, os.path.basename(path)))
        stream_path = src_dir
    else:
        stream_path = path
    stream = spark.readStream.schema(schema).parquet(stream_path)
    out = transform(stream)
    name = "bs_replay_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="bs_replay_ckpt_", dir=tmp_root)
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    dirs = [ckpt] + ([src_dir] if src_dir else [])
    return q, name, dirs


def _stop_and_clean(started: list, tmp_root: str) -> None:
    """Stop every started drain and remove its dirs and the temp root."""
    for q, _name, dirs in started:
        if q.isActive:
            q.stop()
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(tmp_root, ignore_errors=True)


def replay_parquet_many(spark: SparkSession,
                        specs: list[tuple],
                        await_secs: int = 600,
                        shuffle_partitions: int = 4,
                        extra_conf: dict[str, str] | None = None,
                        ) -> list[DataFrame]:
    """Drain several replays CONCURRENTLY: start every query, then
    await them all.  A bounded replay's wall time is dominated by
    fixed engine setup (checkpoint dirs, state-store providers,
    micro-batch planning), so overlapping the drains makes a
    multi-mechanism gate cost ≈ the slowest member instead of the sum.

    specs: (path, transform, output_mode) triples; returns the sink
    tables in the same order.

    extra_conf: session confs to set for the query STARTS and restore
    after (same latching contract as the shuffle-partition pin) —
    the rocksdb_state_conf() switch rides through here."""
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    prev_extra: dict[str, str | None] = {}
    for ck, cv in (extra_conf or {}).items():
        try:
            prev_extra[ck] = spark.conf.get(ck)
        except Exception:
            prev_extra[ck] = None
        spark.conf.set(ck, cv)
    # see replay_parquet: pin state partitioning low for ALL starts,
    # restore once after the last query has latched its conf.
    # `shuffle_partitions` overrides the pin for drains whose stateful
    # operator fans out over MANY keys (e.g. the per-bucket MinHash
    # dedupe: ~3 buckets/doc means tens of thousands of per-group
    # Python calls — at 4 partitions only 4 workers chew through them
    # serially, and the state-store count stays bounded either way).
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(shuffle_partitions))
    # amortize fixed setup across the drains: one schema footer read
    # per DISTINCT source path (a five-mechanism gate on one table
    # paid five identical schema jobs), one shared temp root
    schemas: dict[str, object] = {}
    tmp_root = tempfile.mkdtemp(prefix="bs_replay_root_",
                                dir=_replay_tmp_root())
    started = []
    try:
        for path, _tf, _m in specs:
            if path not in schemas:
                schemas[path] = spark.read.parquet(path).schema
        if len(specs) > 1:
            # START concurrently too (guide §2.6): each start pays
            # driver-side analysis + stream init (~0.2-0.5 s) that a
            # serial loop puts on the critical path BEFORE any drain
            # overlaps (r10: 5 serial starts = 1.9 s of the gate's
            # wall).  All starts happen inside the pinned-conf region
            # either way; inheritable_thread_target propagates the
            # session's JVM thread-locals per PySpark's documented
            # contract.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            def _start_one(spec):
                p, transform, output_mode = spec
                return _start_replay(spark, p, transform, output_mode,
                                     schema=schemas[p],
                                     tmp_root=tmp_root)

            with ThreadPoolExecutor(max_workers=len(specs)) as pool:
                futures = [pool.submit(
                    inheritable_thread_target(_start_one), spec)
                    for spec in specs]
            # keep the drains that did start: a failed sibling start
            # must still stop and clean them up
            started = [f.result() for f in futures
                       if f.exception() is None]
            for f in futures:
                if f.exception() is not None:
                    raise f.exception()
        else:
            path, transform, output_mode = specs[0]
            started.append(_start_replay(spark, path, transform,
                                         output_mode,
                                         schema=schemas[path],
                                         tmp_root=tmp_root))
    except BaseException:
        _stop_and_clean(started, tmp_root)
        raise
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        for ck, cv in prev_extra.items():
            if cv is None:
                spark.conf.unset(ck)
            else:
                spark.conf.set(ck, cv)
    tables = []
    try:
        for q, name, _dirs in started:
            if not q.awaitTermination(await_secs):
                q.stop()
                raise TimeoutError(
                    f"replay did not drain in {await_secs}s")
            tables.append(spark.table(name))
    finally:
        _stop_and_clean(started, tmp_root)
    return tables


def replay_parquet(spark: SparkSession, path: str,
                   transform: Callable[[DataFrame], DataFrame],
                   output_mode: str = "append",
                   await_secs: int = 600,
                   shuffle_partitions: int = 4,
                   extra_conf: dict[str, str] | None = None,
                   ) -> DataFrame:
    """Read `path` (parquet) as a file-source stream with its batch
    schema, apply `transform`, drain through Trigger.AvailableNow into
    a memory sink, and return the sink's table.

    output_mode: `complete` for windowed aggregations (emits final
    state regardless of watermark progress — the stream-equals-batch
    contract), `append` for row streams (dedupe), `update` for
    stateful operators.

    A replay is bounded by construction; the session's shuffle
    parallelism (sized for the batch tables) would create that many
    STATE STORE instances per stateful operator — checkpoint dirs,
    provider threads, and per-partition commit files dominate the
    runtime on small drains.  Pin the stream's state partitioning
    low; the conf only applies at query START, so restore right
    after (the running query keeps its value)."""
    return replay_parquet_many(
        spark, [(path, transform, output_mode)],
        await_secs=await_secs,
        shuffle_partitions=shuffle_partitions,
        extra_conf=extra_conf)[0]
