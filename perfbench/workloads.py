"""Workload definitions: which `__spark_entry__.base_queries()` each
workload runs, at which scale, plus the benchmark-owned YAML configs
that write through the sink layer.

A query returns a lazy DataFrame that the benchmark sinks (noop when
timed, collect when checking correctness).  A config runs through
`run_stream` and its own output section is the sink; the files it
writes are read back and must equal the same pipeline's in-memory
result.
"""
from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, replace

# Benthos-processor queries: many small plans, fixed cost dominates.
PIPELINE_QUERIES = [
    "filter_predicate", "split_batches", "archive_lines",
    "merge_json_last_wins", "bloblang_mapping", "string_methods",
    "yaml_config_stream", "yaml_branch_cache", "jq_general",
    "parse_log_syslog", "compress_roundtrip", "shuffle_shards",
]

# LLM-curation queries: Arrow Python UDFs and iterative CC rounds run
# as eager build-phase jobs; the streaming MinHash dedupe drains a
# stateful stream.
CURATION_QUERIES = [
    "dedup_exact", "dedup_connected_components", "text_quality_langid",
    "pack_sequences", "mixture_sample", "streaming_minhash_dedupe",
]

_ORDERS_SCHEMA = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
                  "o_totalprice DOUBLE, o_orderpriority STRING")

_ORDERS_PIPELINE = """
pipeline:
  processors:
    - filter: this.o_orderstatus == "F"
    - bloblang: |
        root.o_orderkey = this.o_orderkey
        root.o_custkey = this.o_custkey
        root.band = if this.o_totalprice > 200000 { "high" } else { "low" }
        root.prio = this.o_orderpriority.uppercase()
"""

_CUSTOMER_PIPELINE = """
pipeline:
  processors:
    - bloblang: |
        root.c_custkey = this.c_custkey
        root.segment = this.c_mktsegment.lowercase()
        root.rich = this.c_acctbal > 5000
"""

_DOCS_PIPELINE = """
pipeline:
  processors:
    - bloblang: |
        root.doc_id = this.doc_id
        root.source = this.source
        root.norm = this.text.lowercase().trim()
    - dedupe:
        key: [norm]
        order_by: [doc_id]
"""


@dataclass
class Config:
    """A benchmark-owned stream config reading one generated table.
    `$OUT` in `output` is the run's output dir."""
    source: str
    pipeline: str
    output: str
    reads: list[tuple[str, str]]  # (subdir of $OUT, format) to read back
    stream_schema: str | None = None  # streaming file input when set

    def yaml(self, sf_dir: str, output: str) -> str:
        spec = f'paths: ["{sf_dir}/{self.source}.parquet"]'
        if self.stream_schema:
            spec = (f'paths: ["{stream_dir(sf_dir, self.source)}"], '
                    f'stream: true, schema: "{self.stream_schema}"')
        return f"input: {{file: {{{spec}}}}}\n" + self.pipeline + output

    def run(self, spark, sf_dir: str, out_dir: str) -> None:
        from benthos_spark.stream import run_stream
        run_stream(spark, self.yaml(sf_dir,
                                    self.output.replace("$OUT", out_dir)))

    def expected(self, spark, sf_dir: str):
        """The same pipeline over a batch read, delivered to memory."""
        from benthos_spark.stream import run_stream
        batch = replace(self, stream_schema=None)
        return run_stream(spark, batch.yaml(sf_dir, "output: {memory: {}}\n"))

    def read_back(self, spark, out_dir: str):
        """The written files, one DataFrame per output directory."""
        return [spark.read.format(fmt).load(os.path.join(out_dir, sub))
                for sub, fmt in self.reads]


def stream_dir(sf_dir: str, table: str) -> str:
    """A directory holding one copy of `table`: the file stream source
    watches directories, not files."""
    path = os.path.join(sf_dir, "stream", table)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        os.makedirs(tmp)
        shutil.copy(os.path.join(sf_dir, f"{table}.parquet"),
                    os.path.join(tmp, "part-0.parquet"))
        os.rename(tmp, path)
    return path


CONFIGS = {
    "write_file_parquet": Config(
        "orders", _ORDERS_PIPELINE,
        'output: {file: {path: "$OUT/orders_f", format: parquet}}\n',
        [("orders_f", "parquet")]),
    "write_broker_fan_out": Config(
        "customer", _CUSTOMER_PIPELINE,
        "output:\n  broker:\n    pattern: fan_out\n    outputs:\n"
        '      - file: {path: "$OUT/cust_parquet", format: parquet}\n'
        '      - file: {path: "$OUT/cust_json", format: json}\n',
        [("cust_parquet", "parquet"), ("cust_json", "json")]),
    "write_stream_checkpoint": Config(
        "orders", _ORDERS_PIPELINE,
        'output: {file: {path: "$OUT/orders_stream", format: parquet, '
        'checkpoint: "$OUT/orders_stream_ckpt"}}\n',
        [("orders_stream", "parquet")], stream_schema=_ORDERS_SCHEMA),
    "write_curated_docs": Config(
        "documents", _DOCS_PIPELINE,
        'output: {file: {path: "$OUT/docs_curated", format: parquet}}\n',
        [("docs_curated", "parquet")]),
}


@dataclass
class Workload:
    name: str
    sf: float
    queries: list[str]
    configs: list[str]


# why each workload exists: perfbench/README.md and BENCHMARK.json
WORKLOADS = {w.name: w for w in [
    Workload("pipeline_records", 0.01, PIPELINE_QUERIES,
             ["write_file_parquet", "write_broker_fan_out",
              "write_stream_checkpoint"]),
    Workload("curation_sf0.01", 0.01, CURATION_QUERIES,
             ["write_curated_docs"]),
]}
