"""Traced mode: spans and counts at each layer boundary, recorded from
the benchmark's side of the calls.

- Python layers: timing wrappers around the public functions of each
  layer module (`LAYERS`), patched wherever the program holds a
  reference, plus `DataFrameReader.parquet` (loader) and the
  DataFrame/DataStream writers (sinks).
- Spark: jobs, stages and SQL executions from the status store over the
  local REST UI, a `QueryExecutionListener` (Catalyst phase times) and a
  `StreamingQueryListener` (micro-batch progress).

Spans nest workload -> pass -> query -> build/exec phase -> layer call
-> Spark job -> stage.  A span's self time is its duration minus the
part of it that its children cover.  Spans stay in memory and are
written out with the run's results.
"""
from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import re
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# (layer, module, functions; None = every public function defined there)
LAYERS = [
    ("stream", "benthos_spark.stream",
     ["load_config", "build_stream", "_build_stream_ctx", "run_stream"]),
    ("bloblang", "benthos_spark.bloblang.compiler",
     ["map_text", "map_dynamic", "check_dynamic", "compile_mapping"]),
    ("bloblang", "benthos_spark.bloblang.parser",
     ["parse_mapping", "parse_query"]),
    ("bloblang", "benthos_spark.stream",
     ["compile_condition", "compile_check"]),
    *[("operators", f"benthos_spark.operators.{m}", None) for m in (
        "jq", "awk_proc", "codec", "parsing", "batch", "filters", "routing",
        "joins", "control", "cache_store")],
    *[("llm", f"benthos_spark.llm.{m}", None) for m in (
        "dedup", "similarity", "pipeline", "text", "sampling", "search",
        "packing", "multimodal")],
    *[("sinks", f"benthos_spark.sinks.{m}", None)
      for m in ("writers", "broker")],
]
# (layer, class path, methods)
METHODS = [
    ("loader", "pyspark.sql.readwriter.DataFrameReader", ["parquet"]),
    ("sinks", "pyspark.sql.readwriter.DataFrameWriter",
     ["save", "parquet", "json", "csv", "text", "orc", "saveAsTable",
      "insertInto"]),
    ("sinks", "pyspark.sql.streaming.readwriter.DataStreamWriter", ["start"]),
    ("sinks", "pyspark.sql.streaming.query.StreamingQuery",
     ["awaitTermination", "processAllAvailable"]),
]

UNITS = {
    "loader.calls": "count", "loader.schema_jobs": "count", "loader.s": "s",
    "query.build_s": "s", "query.build_jobs": "count", "query.exec_s": "s",
    "query.exec_jobs": "count", "query.build_job_share": "frac",
    "stream.load_config_s": "s", "stream.build_s": "s",
    "stream.output_s": "s",
    "bloblang.compile_s": "s", "bloblang.compile_calls": "count",
    "operators.build_s": "s",
    "llm.build_s": "s", "llm.build_jobs": "count",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "sinks.write_s": "s", "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.stages": "count", "exec.stages_skipped": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.slot_busy_frac": "frac", "exec.task_skew": "ratio",
    "python.total_s": "s", "python.boot_s": "s", "python.init_s": "s",
    "python.bytes_sent": "bytes", "python.rows_returned": "count",
}

# Computed and kept in the results file, but not printed: they read 0
# at the benchmark's scales (Catalyst analysis of DataFrame-API plans
# happens before execution; daemon-forked workers start in ~0 ms; no
# spills or task failures at sf0.01).
UNPRINTED = {"catalyst.analysis_s", "python.boot_s", "exec.spill_bytes",
             "exec.failed_tasks"}

# SQL metric display names of Spark's Python evaluation nodes
_PY_METRICS = {"time to run Python workers": "python.total_s",
               "time to start Python workers": "python.boot_s",
               "time to initialize Python workers": "python.init_s",
               "data sent to Python workers": "python.bytes_sent"}
_SCALE = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20,
          "GiB": 1 << 30, "TiB": 1 << 40, "": 1}
_STREAM_MS = {"addBatch": "streaming.add_batch_ms",
              "queryPlanning": "streaming.query_planning_ms",
              "walCommit": "streaming.wal_commit_ms",
              "latestOffset": "streaming.latest_offset_ms",
              "triggerExecution": "streaming.trigger_ms"}


def _epoch(ts: str | None) -> float | None:
    """REST time ('2026-01-02T03:04:05.678GMT') -> epoch seconds."""
    if not ts:
        return None
    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _metric_value(text: str) -> float:
    """'2.2 s', '25.5 KiB', '1,234' or a 'total (min, med, max)' block ->
    the total in base units."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1)


def _resolve(path: str):
    mod, _, attr = path.rpartition(".")
    return getattr(importlib.import_module(mod), attr)


class _QueryExecutionListener:
    """py4j implementation of Spark's QueryExecutionListener: records
    the Catalyst phase times of every executed query."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        got = {}
        for k in ("analysis", "optimization", "planning"):
            opt = phases.get(k)
            if opt.isDefined():
                got[k] = opt.get().durationMs() / 1000
        self.sink.append((time.time(), got))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark, self.cores = spark, cores
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patches: list[tuple] = []
        self._catalyst: list = []
        self._progress: list = []
        self.passes: list[dict] = []
        self.root = {"id": 0, "parent": None, "name": "workload",
                     "layer": "workload", "start": time.time(), "end": None}
        self._main = self.root  # innermost open span on the main thread
        self._listeners = None

    # ---------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        on_main = threading.current_thread() is threading.main_thread()
        parent = stack[-1] if stack else self._main
        sp = {"id": next(self._ids), "parent": parent["id"], "name": name,
              "layer": layer, "start": time.time(), "end": None,
              "outer": all(s["layer"] != layer for s in stack)}
        stack.append(sp)
        if on_main:
            self._main = sp
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            if on_main:
                self._main = stack[-1] if stack else self.root
            self.spans.append(sp)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            with tracer.span(name, layer):
                return fn(*a, **k)
        return traced

    # ---------------------------------------------------------- install

    def install(self) -> None:
        """Patch the layer functions everywhere the program refers to
        them, and register the Spark listeners."""
        wrappers = {}
        for layer, modname, names in LAYERS:
            try:
                mod = importlib.import_module(modname)
            except ImportError:
                continue
            if names is None:
                names = [n for n, v in vars(mod).items()
                         if inspect.isfunction(v) and not n.startswith("_")
                         and v.__module__ == modname]
            for n in names:
                fn = getattr(mod, n, None)
                if inspect.isfunction(fn) and id(fn) not in wrappers:
                    wrappers[id(fn)] = (fn, self._wrap(fn, layer, n))
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("benthos_spark")
                    or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patches.append((mod, attr, val))
        for layer, path, methods in METHODS:
            cls = _resolve(path)
            for m in methods:
                orig = cls.__dict__.get(m)
                if orig is None:
                    continue
                setattr(cls, m, self._wrap_method(orig, layer,
                                                  f"{cls.__name__}.{m}"))
                self._patches.append((cls, m, orig))
        self._listen()

    def _wrap_method(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(obj, *a, **k):
            # the benchmark's and the `drop` output's noop sink write
            # nothing: not a sink call
            if getattr(obj, "_perfbench_format", None) == "noop":
                return fn(obj, *a, **k)
            with tracer.span(name, layer):
                return fn(obj, *a, **k)
        return traced

    def _listen(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming import StreamingQueryListener

        fmt = DataFrameWriter.format

        def remember_format(writer, source):
            writer._perfbench_format = source
            return fmt(writer, source)
        DataFrameWriter.format = remember_format
        self._patches.append((DataFrameWriter, "format", fmt))

        progress = self._progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append((_epoch(p.timestamp), str(p.runId),
                                 dict(p.durationMs or {}),
                                 [(s.numRowsTotal, s.memoryUsedBytes)
                                  for s in p.stateOperators]))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        sc = self.spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        qel = _QueryExecutionListener(self._catalyst)
        self.spark._jsparkSession.listenerManager().register(qel)
        sql_listener = Progress()
        self.spark.streams.addListener(sql_listener)
        self._listeners = (qel, sql_listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listeners:
            qel, sql_listener = self._listeners
            self.spark._jsparkSession.listenerManager().unregister(qel)
            self.spark.streams.removeListener(sql_listener)
            self._listeners = None

    # ---------------------------------------------------------- passes

    @contextmanager
    def traced_pass(self, n: int, out_dir: str):
        """Install, record pass `n` as one span, then uninstall.  The
        files under `out_dir` are the pass's sink output."""
        self.install()
        try:
            with self.span(f"pass{n}", "pass") as sp:
                yield
            # listener events arrive asynchronously: let the pass's last
            # ones land before the listeners go (outside the pass wall)
            time.sleep(0.5)
            sp["events_until"] = time.time()
            self.passes.append({"span": sp, **_output_size(out_dir)})
        finally:
            self.uninstall()

    # ---------------------------------------------------------- report

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        url = (f"http://127.0.0.1:{port}/api/v1/applications/"
               f"{sc.applicationId}/{path}")
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def report(self) -> tuple[dict, dict]:
        """Per-layer metrics (median over traced passes) and the detail:
        spans with self time, the per-query table and the overhead."""
        jobs = self._rest("jobs")
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._rest("stages")}
        sqls = self._rest("sql?details=true&planDescription=false"
                          "&offset=0&length=1000000")
        spans = sorted(self.spans, key=lambda s: s["start"])
        by_id = {s["id"]: s for s in spans}

        def innermost(t: float):
            best = None
            for s in spans:
                if s["start"] <= t <= s["end"] and (
                        best is None or s["end"] - s["start"]
                        < best["end"] - best["start"]):
                    best = s
            return best

        def ancestors(s):
            while s is not None:
                yield s
                s = by_id.get(s["parent"])

        job_spans, stage_spans = [], []
        for j in jobs:
            t0 = _epoch(j.get("submissionTime"))
            owner = innermost(t0) if t0 else None
            if owner is None:
                continue
            js = {"id": next(self._ids), "parent": owner["id"],
                  "name": f"job{j['jobId']}", "layer": "spark.job",
                  "start": t0, "end": _epoch(j.get("completionTime")) or t0,
                  "job": j}
            job_spans.append(js)
            for sid in j["stageIds"]:
                st = stages.get((sid, 0))
                if st and st.get("submissionTime"):
                    stage_spans.append({
                        "id": next(self._ids), "parent": js["id"],
                        "name": f"stage{sid}", "layer": "spark.stage",
                        "start": _epoch(st["submissionTime"]),
                        "end": _epoch(st.get("completionTime"))
                        or _epoch(st["submissionTime"]), "stage": st})
        for s in job_spans + stage_spans:
            by_id[s["id"]] = s

        per_pass = []
        for p in self.passes:
            ps = p["span"]
            inside = [s for s in spans if s is not ps
                      and ps["start"] <= s["start"] <= ps["end"]]
            pj = [s for s in job_spans
                  if ps["start"] <= s["start"] <= ps["end"]]
            per_pass.append(self._pass_metrics(
                ps, p, inside, pj, stages, sqls, ancestors))

        metrics = {k: statistics.median(m[k] for m in per_pass)
                   for k in UNITS}
        all_spans = [self.root | {"end": time.time()}] + spans \
            + job_spans + stage_spans
        _self_times(all_spans)
        detail = {"spans": [{k: v for k, v in s.items()
                             if k not in ("job", "stage")}
                            for s in all_spans],
                  "per_pass_layers": per_pass,
                  "layer_self_s": _layer_self(all_spans),
                  "per_query": _per_query(spans)}
        return metrics, detail

    def _pass_metrics(self, ps, p, inside, pass_jobs, stages, sqls,
                      ancestors) -> dict:
        t0, t1 = ps["start"], ps["end"]
        m = dict.fromkeys(UNITS, 0.0)

        def total(layer, name=None):
            """Outermost spans of a layer, or every span of one name."""
            return sum(s["end"] - s["start"] for s in inside
                       if s["layer"] == layer and (
                           s["name"] == name if name else s["outer"]))

        m["loader.calls"] = sum(1 for s in inside if s["layer"] == "loader")
        m["loader.s"] = total("loader")
        for phase in ("build", "exec"):
            m[f"query.{phase}_s"] = sum(
                s["end"] - s["start"] for s in inside
                if s["layer"] == "phase" and s["name"] == phase)
        m["stream.load_config_s"] = total("stream", "load_config")
        m["stream.build_s"] = (total("stream", "_build_stream_ctx")
                               + total("stream", "build_stream"))
        runs = [s for s in inside if s["layer"] == "stream"
                and s["name"] == "run_stream"]
        kids = [s for s in inside if s["layer"] == "stream"
                and s["name"] in ("load_config", "_build_stream_ctx")]
        m["stream.output_s"] = sum(s["end"] - s["start"] for s in runs) - sum(
            k["end"] - k["start"] for k in kids
            if any(r["start"] <= k["start"] <= r["end"] for r in runs))
        m["bloblang.compile_s"] = total("bloblang")
        m["bloblang.compile_calls"] = sum(
            1 for s in inside if s["layer"] == "bloblang" and s["outer"])
        m["operators.build_s"] = total("operators")
        m["llm.build_s"] = total("llm")
        m["sinks.write_s"] = total("sinks")
        m["sinks.files_written"] = p["files"]
        m["sinks.bytes_written"] = p["bytes"]

        for js in pass_jobs:
            chain = list(ancestors(js))
            layers = {s["layer"] for s in chain}
            phase = next((s["name"] for s in chain if s["layer"] == "phase"),
                         None)
            if phase in ("build", "exec"):
                m[f"query.{phase}_jobs"] += 1
            if chain[1]["layer"] == "loader":
                m["loader.schema_jobs"] += 1
            if "llm" in layers:
                m["llm.build_jobs"] += 1
            m["exec.stages_skipped"] += js["job"].get("numSkippedStages", 0)
        n_jobs = m["query.build_jobs"] + m["query.exec_jobs"]
        m["query.build_job_share"] = (m["query.build_jobs"] / n_jobs
                                      if n_jobs else 0.0)

        longest = None
        for st in stages.values():
            t = _epoch(st.get("submissionTime"))
            if t is None or not t0 <= t <= t1 or st["status"] == "SKIPPED":
                continue
            m["exec.stages"] += 1
            m["exec.tasks"] += st["numCompleteTasks"]
            m["exec.failed_tasks"] += st["numFailedTasks"]
            m["exec.executor_run_s"] += st["executorRunTime"] / 1e3
            m["exec.executor_cpu_s"] += st["executorCpuTime"] / 1e9
            m["exec.gc_s"] += st["jvmGcTime"] / 1e3
            m["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
            m["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            m["exec.spill_bytes"] += (st["memoryBytesSpilled"]
                                      + st["diskBytesSpilled"])
            m["exec.input_bytes"] += st["inputBytes"]
            if st["numTasks"] > 1 and (longest is None or st[
                    "executorRunTime"] > longest["executorRunTime"]):
                longest = st
        m["exec.slot_busy_frac"] = m["exec.executor_run_s"] / (
            (t1 - t0) * self.cores)
        if longest is not None:
            q = self._rest(f"stages/{longest['stageId']}/"
                           f"{longest['attemptId']}/taskSummary"
                           "?quantiles=0.5,1.0")["executorRunTime"]
            m["exec.task_skew"] = q[1] / q[0] if q[0] else 1.0
        else:
            m["exec.task_skew"] = 1.0

        for ex in sqls:
            t = _epoch(ex.get("submissionTime"))
            if t is None or not t0 <= t <= t1:
                continue
            for node in ex.get("nodes", []):
                got = {mm["name"]: mm["value"] for mm in node.get("metrics",
                                                                  [])}
                if not any(k in got for k in _PY_METRICS):
                    continue
                for k, name in _PY_METRICS.items():
                    if k in got:
                        m[name] += _metric_value(got[k])
                if "number of output rows" in got:
                    m["python.rows_returned"] += _metric_value(
                        got["number of output rows"])

        for t, phases in self._catalyst:
            if t0 <= t <= ps["events_until"]:
                for k, v in phases.items():
                    m[f"catalyst.{k}_s"] += v
        last_state = {}
        for t, run_id, dur, state in self._progress:
            if t0 <= t <= t1:
                m["streaming.batches"] += 1
                for k, name in _STREAM_MS.items():
                    m[name] += dur.get(k, 0)
                last_state[run_id] = state
        for state in last_state.values():
            m["streaming.state_rows"] += sum(r for r, _ in state)
            m["streaming.state_bytes"] += sum(b for _, b in state)
        return m


def _output_size(out_dir: str) -> dict:
    files = nbytes = 0
    for d, _, fs in os.walk(out_dir):
        if "_ckpt" in d or "/_" in d:
            continue  # checkpoints and commit logs are not output
        for f in fs:
            if not f.startswith(("_", ".")):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, f))
    return {"files": files, "bytes": nbytes}


def _self_times(spans: list[dict]) -> None:
    """self_s = duration minus the union of the children's intervals."""
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        s["self_s"] = (s["end"] - s["start"]) - covered


def _layer_self(spans: list[dict]) -> dict:
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["self_s"]
    return out


def _per_query(spans) -> list[dict]:
    """Per traced query execution: phase times, the query span's wall,
    and whether build + exec is within 5 % of that wall."""
    out = []
    by_parent: dict[int, list] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    for q in spans:
        if q["layer"] != "query":
            continue
        phases = {p["name"]: p["end"] - p["start"]
                  for p in by_parent.get(q["id"], []) if p["layer"] == "phase"}
        wall = q["end"] - q["start"]
        b, e = phases.get("build", 0.0), phases.get("exec", 0.0)
        out.append({"query": q["name"], "build_s": b, "exec_s": e,
                    "traced_wall_s": wall,
                    "within_5pct": abs(b + e - wall) <= 0.05 * wall})
    return out
