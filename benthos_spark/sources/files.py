"""File-family inputs.

Reference: lib/input/{file,csv,files}.go with the codec stack
(internal/codec/reader.go:206-246: all-bytes, lines, csv, csv-gzip, tar,
gzip, multipart, auto).  Spark's format+compression options subsume the
codec list; object stores (aws_s3, gcp_cloud_storage, azure_blob,
hdfs — lib/input/aws_s3.go:31 et al.) are the same call with a
different URI scheme once the FS connector jars are present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table(spark: SparkSession, path: str, fmt: str = "parquet",
               **options) -> DataFrame:
    """Typed columnar read — predicate pushdown + column pruning apply."""
    return spark.read.format(fmt).options(**options).load(path)


def read_file_lines(spark: SparkSession, path: str) -> DataFrame:
    """`file` input with `lines` codec (lib/input/file.go:25): one part
    per line, with source-path metadata like the reference's `path`
    metadata field."""
    df = spark.read.text(path).withColumn("__path", F.input_file_name())
    return df.select(
        F.lit(0).cast("long").alias("batch_id"),
        F.lit(0).cast("int").alias("part_index"),
        F.col("value").alias("content"),
        F.create_map(F.lit("path"), F.col("__path")).alias("meta"),
        F.lit(None).cast("string").alias("_error"),
    )


def map_kafka_frame(df: DataFrame) -> DataFrame:
    """Kafka record frame (value/topic/partition/offset/key/timestamp —
    the spark-sql-kafka source schema) → engine datamodel: payload in
    `content`, the reference's metadata fields (lib/input/kafka.go:60
    kafka_topic/partition/offset/key/timestamp_unix) in `meta`.
    Pure column mapping — testable without a broker."""
    return df.select(
        F.lit(0).cast("long").alias("batch_id"),
        F.lit(0).cast("int").alias("part_index"),
        F.col("value").cast("string").alias("content"),
        F.create_map(
            F.lit("kafka_topic"), F.col("topic"),
            F.lit("kafka_partition"), F.col("partition").cast("string"),
            F.lit("kafka_offset"), F.col("offset").cast("string"),
            F.lit("kafka_key"), F.col("key").cast("string"),
            F.lit("kafka_timestamp_unix"),
            F.unix_timestamp(F.col("timestamp")).cast("string"),
        ).alias("meta"),
        F.lit(None).cast("string").alias("_error"),
    )


def read_kafka(spark: SparkSession, brokers: str, topics: str,
               starting_offsets: str = "earliest",
               streaming: bool = True) -> DataFrame:
    """`kafka`/`kafka_balanced` input (lib/input/kafka.go:31,
    kafka_balanced.go:17).  Message metadata (topic/partition/offset/
    key/timestamp — the reference's metadata fields) lands in the
    `meta` map; payload in `content`.  Needs the spark-sql-kafka
    package (gated — not in this container)."""
    reader = (spark.readStream if streaming else spark.read) \
        .format("kafka") \
        .option("kafka.bootstrap.servers", brokers) \
        .option("subscribe", topics) \
        .option("startingOffsets", starting_offsets)
    return map_kafka_frame(reader.load())


def sequence(spark: SparkSession, readers: list) -> DataFrame:
    """`sequence` input (lib/input/sequence.go:24): sources consumed in
    order.  Batch union preserves per-source ordering guarantees the
    same way (each input's rows are complete before semantics depend on
    the next — order within the union is positional via a source tag)."""
    dfs = []
    for i, df in enumerate(readers):
        dfs.append(df.withColumn("__seq_source", F.lit(i)))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def read_until(df: DataFrame, stop: F.Column, include_last: bool = True):
    """`read_until` input wrapper (lib/input/read_until.go:26): consume
    until a condition fires.  Batch: rows up to (and optionally
    including) the first stop-row in a pinned order are kept — the
    caller supplies a monotonically ordered frame; streaming: combine
    with Trigger.AvailableNow + this filter."""
    from pyspark.sql.window import Window
    w = Window.orderBy(F.monotonically_increasing_id()) \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hit = F.max(F.when(stop, F.lit(1)).otherwise(F.lit(0))).over(w)
    fired_before = F.max(
        F.when(F.lag(stop.cast("int"), 1, 0).over(
            Window.orderBy(F.monotonically_increasing_id())) == 1,
            F.lit(1)).otherwise(F.lit(0))).over(w)
    if include_last:
        return df.withColumn("__hit", fired_before).filter(
            F.col("__hit") == 0).drop("__hit")
    return df.withColumn("__hit", hit).filter(F.col("__hit") == 0) \
             .drop("__hit")


def read_csv(spark: SparkSession, path: str, header: bool = True,
             delimiter: str = ",", schema=None) -> DataFrame:
    """`csv` input (lib/input/csv.go:25, fields csv.go:77-80):
    parse_header_row → header option, custom delimiter supported.
    Schema should be declared in production (inference = extra pass)."""
    reader = spark.read.option("header", header).option("sep", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_webdataset_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read webdataset-style tar shards back into (key, ext, content)
    rows — the loader side of sinks.writers.write_webdataset_shards
    and of any standard webdataset corpus (one tar member per sample
    column, `<key>.<ext>` naming).

    Scale shape: `binaryFile` lists and splits the shard FILES across
    executors (one task per tar — exactly how webdataset loaders
    parallelize), then stdlib tarfile walks each archive inside
    mapInPandas; member bytes never touch the driver.  Filter on
    `shard` or `key` before heavy decode steps — the binaryFile
    source prunes on file path."""
    import os

    import pandas as pd

    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.tar").load(path)
           .select(F.col("path"), F.col("content").alias("__tar")))

    def walk(batches):
        import io
        import tarfile
        for pdf in batches:
            shards, keys, exts, payloads = [], [], [], []
            for p, blob in zip(pdf["path"], pdf["__tar"]):
                shard = os.path.basename(p)
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                    for m in tar:
                        if not m.isfile():
                            continue
                        base, _, ext = m.name.rpartition(".")
                        shards.append(shard)
                        keys.append(base)
                        exts.append(ext)
                        payloads.append(tar.extractfile(m).read())
            yield pd.DataFrame({"shard": shards, "key": keys,
                                "ext": exts, "content": payloads})

    return raw.mapInPandas(
        walk, schema="shard string, key string, ext string, content binary")


def _resolve_codec_aliases(path: str, codec: str) -> str:
    """reader.go:244-281: `csv-gzip`/`tar-gzip` aliases and the
    extension-derived `auto` codec (.csv → csv, .csv.gz → gzip/csv,
    .tar → tar, .tgz/.tar.gz/.tar.gzip → gzip/tar, else all-bytes)."""
    if codec == "csv-gzip":
        return "gzip/csv"
    if codec == "tar-gzip":
        return "gzip/tar"
    if codec != "auto":
        return codec
    p = path.lower()
    if p.endswith((".csv.gz", ".csv.gzip")):
        return "gzip/csv"
    if p.endswith(".csv"):
        return "csv"
    if p.endswith((".tgz", ".tar.gz", ".tar.gzip")):
        return "gzip/tar"
    if p.endswith(".tar"):
        return "tar"
    return "all-bytes"


def decode_blob_entries(src: str, data: bytes, codec: str):
    """The reference codec stack (internal/codec/reader.go:206-246)
    over ONE in-memory blob: yields (content, meta) pairs.  Used by
    inputs that fetch bytes through a client (sftp) rather than a
    Hadoop path — the path-based read_codec keeps its JVM fast paths."""
    import gzip as _gz
    import io
    import tarfile
    import zipfile

    codec = _resolve_codec_aliases(src, codec)
    parts = codec.split("/")
    gzip_wrap = parts[0] == "gzip" and len(parts) > 1
    if gzip_wrap:
        parts = parts[1:]
    head = parts[0]
    rest = "/".join(parts[1:])
    if gzip_wrap or head == "gzip" or (src.endswith(".gz")
                                       and head != "all-bytes"):
        data = _gz.decompress(data)
    if head == "gzip":
        head = "all-bytes"
    if head == "all-bytes":
        yield data.decode("utf-8", "replace"), {"path": src}
    elif head == "csv":
        # reader.go newCSVReader: first row is the header, every later
        # row becomes a JSON object part with string values (Go map
        # marshal sorts keys)
        import csv as _csv
        import json as _json
        rows = list(_csv.reader(io.StringIO(
            data.decode("utf-8", "replace"))))
        if rows:
            hdr = rows[0]
            for rec in rows[1:]:
                obj = {h: v for h, v in zip(hdr, rec)}
                yield (_json.dumps(obj, sort_keys=True,
                                   separators=(",", ":")),
                       {"path": src})
    elif head == "lines" or head.startswith("delim:"):
        sep = head.split(":", 1)[1] if ":" in head else "\n"
        text = data.decode("utf-8", "replace")
        for ln in text.removesuffix(sep).split(sep):
            yield ln, {"path": src}
    elif head.startswith("chunker:"):
        n = int(head.split(":", 1)[1])
        for off in range(0, len(data), n):
            yield (data[off:off + n].decode("utf-8", "replace"),
                   {"path": src, "chunk": str(off // n)})
    elif head == "tar":
        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
            for m in tf.getmembers():
                if not m.isfile():
                    continue
                payload = tf.extractfile(m).read()
                if rest == "lines":
                    for ln in payload.decode("utf-8",
                                             "replace").splitlines():
                        yield ln, {"path": src, "entry": m.name}
                else:
                    yield (payload.decode("utf-8", "replace"),
                           {"path": src, "entry": m.name})
    elif head == "zip":
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            for name in zf.namelist():
                if name.endswith("/"):
                    continue
                yield (zf.read(name).decode("utf-8", "replace"),
                       {"path": src, "entry": name})
    else:
        raise ValueError(
            f"codec {codec!r} unrecognised (reader.go:206: all-bytes, "
            "csv, lines, delim:<sep>, chunker:<n>, gzip, tar, zip, auto + "
            "gzip-wrapped combos)")


def _read_codec_multipart(spark: SparkSession, path: str,
                          inner: str) -> DataFrame:
    """`<codec>/multipart` (reader.go:196, newMultipartReader): the
    inner codec's messages batch together; an EMPTY message ends the
    current batch (and is not itself emitted).  Batches surface as the
    engine's native batch columns (`batch_id`, `part_index`) so
    `.from()`/batch windows see the reference's multipart groups.

    Scale shape: one binaryFile row per FILE into an Arrow walk —
    grouping needs sequential in-file order, which is exactly how the
    reference consumes it; files parallelize across executors.
    batch_id = CRC32(file path) << 24 | group ordinal (collision-free
    within a file, disjoint across realistic file sets)."""
    import zlib

    import pandas as pd

    raw = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def walk(batches):
        for pdf in batches:
            bid, pidx, contents, metas = [], [], [], []
            for src, blob in zip(pdf["path"], pdf["content"]):
                base = zlib.crc32(src.encode()) << 24
                group, n_in_group = 0, 0
                for content, meta in decode_blob_entries(
                        src, bytes(blob), inner):
                    if content == "":
                        if n_in_group:
                            group += 1
                            n_in_group = 0
                        continue
                    bid.append(base | group)
                    pidx.append(n_in_group)
                    contents.append(content)
                    metas.append(meta)
                    n_in_group += 1
            yield pd.DataFrame({"batch_id": pd.Series(bid, dtype="int64"),
                                "part_index": pd.Series(pidx,
                                                        dtype="int32"),
                                "content": pd.Series(contents,
                                                     dtype="object"),
                                "meta": pd.Series(metas, dtype="object")})

    out = raw.mapInPandas(
        walk, "batch_id long, part_index int, content string, "
              "meta map<string,string>")
    return out.withColumn("_error", F.lit(None).cast("string"))


def read_codec(spark: SparkSession, path: str, codec: str) -> DataFrame:
    """The reference codec stack for raw-file inputs
    (internal/codec/reader.go:206-246): all-bytes, lines, delim:<sep>,
    chunker:<n>, gzip, tar, zip and gzip-wrapped combos
    ("gzip/tar", "gzip/lines", "tar/...").

    Spark-first split: `lines`, `delim` and `gzip/lines` stay entirely
    JVM-side (the text reader's lineSep option; Spark decompresses .gz
    transparently), so at 100 TB they scan with whole-stage codegen.
    Archive codecs (tar/zip/chunker/all-bytes) read via binaryFile —
    one row per FILE into an Arrow-batched entry-walk, partition-
    parallel across files; a single giant archive is one task by
    construction (the reference streams it on one node too — shard
    archives for parallelism, e.g. webdataset-style)."""
    codec = _resolve_codec_aliases(path, codec)
    if codec.endswith("/multipart"):
        return _read_codec_multipart(spark, path,
                                     codec[:-len("/multipart")])
    parts = codec.split("/")
    gzip_wrap = parts[0] == "gzip" and len(parts) > 1
    if gzip_wrap:
        parts = parts[1:]
    head = parts[0]
    rest = "/".join(parts[1:])  # nested archive entries' inner codec
    if head == "csv":
        # JVM scan path (reader.go newCSVReader: header row → JSON
        # object per record, string values; Spark auto-gunzips *.gz so
        # gzip/csv takes the same path).  Alphabetical struct order ==
        # Go map-marshal key order.
        df = (spark.read.option("header", True)
              .option("inferSchema", False).csv(path))
        cols = sorted(df.columns)
        return (df.withColumn("__path", F.input_file_name())
                .select(F.to_json(F.struct(*[F.col(c) for c in cols]))
                        .alias("content"),
                        F.create_map(F.lit("path"),
                                     F.col("__path")).alias("meta")))
    if head in ("lines", "delim", "gzip") or head.startswith("delim:"):
        # JVM scan path; Spark auto-gunzips *.gz inputs
        if head.startswith("delim:"):
            sep = head.split(":", 1)[1]
            df = spark.read.option("lineSep", sep).text(path)
        else:
            df = spark.read.text(path)
        return (df.withColumn("__path", F.input_file_name())
                .select(F.col("value").alias("content"),
                        F.create_map(F.lit("path"),
                                     F.col("__path")).alias("meta")))
    if head not in ("all-bytes", "tar", "zip") and \
            not head.startswith("chunker:"):
        raise ValueError(
            f"codec {codec!r} unrecognised (reader.go:206: all-bytes, "
            "csv, lines, delim:<sep>, chunker:<n>, gzip, tar, zip, auto + "
            "gzip-wrapped combos)")
    chunk_n = (int(head.split(":", 1)[1])
               if head.startswith("chunker:") else 0)

    raw = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def walk(batches):
        import gzip as _gz
        import io
        import tarfile
        import zipfile

        import pandas as pd
        for pdf in batches:
            out_content, out_meta = [], []
            for src, blob in zip(pdf["path"], pdf["content"]):
                data = bytes(blob)
                if gzip_wrap or (src.endswith(".gz")
                                 and head != "all-bytes"):
                    data = _gz.decompress(data)
                if head == "all-bytes":
                    out_content.append(
                        data.decode("utf-8", "replace"))
                    out_meta.append({"path": src})
                elif chunk_n:
                    for off in range(0, len(data), chunk_n):
                        out_content.append(
                            data[off:off + chunk_n].decode(
                                "utf-8", "replace"))
                        out_meta.append({"path": src,
                                         "chunk": str(off // chunk_n)})
                elif head == "tar":
                    with tarfile.open(fileobj=io.BytesIO(data)) as tf:
                        for m in tf.getmembers():
                            if not m.isfile():
                                continue
                            payload = tf.extractfile(m).read()
                            if rest == "lines":
                                for ln in payload.decode(
                                        "utf-8",
                                        "replace").splitlines():
                                    out_content.append(ln)
                                    out_meta.append(
                                        {"path": src, "entry": m.name})
                            else:
                                out_content.append(payload.decode(
                                    "utf-8", "replace"))
                                out_meta.append(
                                    {"path": src, "entry": m.name})
                else:  # zip
                    with zipfile.ZipFile(io.BytesIO(data)) as zf:
                        for name in zf.namelist():
                            if name.endswith("/"):
                                continue
                            payload = zf.read(name)
                            out_content.append(payload.decode(
                                "utf-8", "replace"))
                            out_meta.append({"path": src, "entry": name})
            yield pd.DataFrame({"content": out_content,
                                "meta": out_meta})

    return raw.mapInPandas(
        walk, schema="content string, meta map<string,string>")
