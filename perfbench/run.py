"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline_records --seed 1 \
        --seconds 5 --trace 0

Run from the repo root.  One run, in one driver process:

1. generates the seeded tables (cached per seed and scale under
   `.perfbench/data/`); the program only ever sees that directory;
2. set-up: imports the program, starts `local[cores]` and runs every
   workload item once, collecting query results (the cold pass);
3. timed passes over the items (closed loop, one client) until
   `--seconds` have passed, at least two; each query is built, then
   sunk to `noop`; configs run through their own outputs;
4. checks the cold-pass results against the DuckDB oracles and the
   configs' files against their in-memory results (untimed).

With `--trace 1` the timed passes run untraced, traced, traced,
untraced (at least four), the traced ones under the layer wrappers and
listeners of `tracing.py`; the per-layer metrics are printed instead of
the end-to-end ones, and spans plus the per-query table are written to
`.perfbench/results/`.  `--check` runs only the set-up pass and the
correctness check.

The last stdout line is one JSON object: correct, attempted, failed
and metrics.  Everything the run writes stays under `.perfbench/`.
"""
from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

# Timed passes per run.  A pass takes 4.5-9 s, so with `--seconds` 5 a
# run always times exactly two; the count must not vary with the host's
# speed, or the slower first warm pass would enter some medians and not
# others.
MIN_PASSES = 2

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gendata  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {"wall_s": "s", "cpu_s": "s", "setup_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int,
                   default=len(os.sched_getaffinity(0)),
                   help="local[N] threads (default: nproc)")
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's scale factor")
    p.add_argument("--check", action="store_true",
                   help="only the set-up pass and the correctness check")
    return p.parse_args(argv)


def spread(vals: list[float]) -> dict:
    """Median, quartiles and sample count."""
    q1, med, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                   else (vals[0],) * 3)
    return {"median": med, "q1": q1, "q3": q3, "n": len(vals)}


def tail_percentile(n: int) -> int:
    """The highest percentile with at least ten of `n` samples beyond
    it, never below the median."""
    return max([50] + [p for p in range(50, 100)
                       if n * (100 - p) // 100 >= 10])


# ------------------------------------------------------------- /proc

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))):
            children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(jvm_pid: int) -> float:
    """User + system CPU of this driver, the JVM and everything it
    started (Python workers); exited workers count through their
    parent's cutime/cstime once reaped."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    ticks = 0
    for pid in process_tree(jvm_pid):
        if st := _stat(pid):
            ticks += sum(int(x) for x in st[11:15])
    return ru.ru_utime + ru.ru_stime + ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> float:
    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + driver_kb) / 1024


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started (the Python worker daemon) have exited."""
    gateway = spark.sparkContext._gateway
    tree = process_tree(jvm_pid)
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(_stat(p) for p in tree) and time.monotonic() < deadline:
            time.sleep(0.1)


# ------------------------------------------------------------- run

def host_env(root: str, work: str, data: str, cores: int) -> dict:
    """Pin everything the program reads from the environment, and keep
    every file it writes under `work`."""
    dirs = {k: os.path.join(work, k) for k in
            ("tmp", "spark-local", "replay", "warehouse", "out")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        # session.py defaults to a 48g heap; size it for a small host
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_LOCAL_IP": "127.0.0.1",
        # spark-submit's launcher JVM: no hsperfdata file in /tmp either
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_REPLAY_TMP": dirs["replay"],
        # data-dependent oracle builders train on the same tables
        "SPARK_GRAFT_ORACLE_SF_DIR": data,
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })
    tempfile.tempdir = dirs["tmp"]
    return dirs


def spark_conf(dirs: dict, trace: bool) -> dict:
    conf = {
        # no hsperfdata file in /tmp: the run writes only under `work`
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if trace:  # the status reads need the UI and every job/stage/query
        conf["spark.ui.enabled"] = "true"
        conf.update({k: "1000000" for k in (
            "spark.ui.retainedJobs", "spark.ui.retainedStages",
            "spark.sql.ui.retainedExecutions")})
    return conf


class Runner:
    """Runs workload items and records one row per execution."""

    def __init__(self, spark, entry, wl, data: str, out_root: str):
        self.spark, self.data, self.out_root = spark, data, out_root
        base = entry.base_queries()
        self.items = ([(n, "query", base[n]) for n in wl.queries]
                      + [(n, "config", workloads.CONFIGS[n])
                         for n in wl.configs])
        self.rows: list[dict] = []
        self.n_pass = 0
        self.tracer = None

    def out_dir(self, name: str) -> str:
        return os.path.join(self.out_root, f"pass{self.n_pass}", name)

    def run_pass(self, collect: bool = False) -> dict:
        """One pass over every item.  `collect` gathers query results
        (the correctness pass) instead of sinking to noop."""
        results = {}
        t_pass = time.perf_counter()
        for name, kind, fn in self.items:
            row = {"pass": self.n_pass, "query": name, "build_s": 0.0,
                   "exec_s": 0.0, "error": None}
            t0 = time.perf_counter()
            try:
                with self._span(name, "query"):
                    self._run_item(kind, fn, name, row, results, collect)
            except Exception as e:  # counted in `failed`, run goes on
                row["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                print(f"FAILED {name}:\n{traceback.format_exc()}",
                      file=sys.stderr)
            row["wall_s"] = time.perf_counter() - t0
            self.rows.append(row)
        self.last_pass_wall = time.perf_counter() - t_pass
        self.n_pass += 1
        return results

    def _run_item(self, kind, fn, name, row, results, collect) -> None:
        t0 = time.perf_counter()
        if kind == "config":
            with self._span("exec", "phase"):
                fn.run(self.spark, self.data, self.out_dir(name))
            row["exec_s"] = time.perf_counter() - t0
            return
        with self._span("build", "phase"):
            df = fn(self.spark, self.data)
        t1 = time.perf_counter()
        row["build_s"] = t1 - t0
        with self._span("exec", "phase"):
            if collect:
                results[name] = (df.columns,
                                 [r.asDict() for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
        row["exec_s"] = time.perf_counter() - t1

    def _span(self, name: str, layer: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, layer)


def check_outputs(spark, entry, runner: Runner, results: dict, data: str,
                  tmp: str, cores: int) -> list[str]:
    """Untimed: queries against DuckDB oracles, config files against the
    same pipeline's in-memory result.  Returns the mismatching names."""
    import duckdb

    import oracle
    wrong = []
    sqls = oracle.base_oracles(entry)
    con = oracle.connect(data, entry._TABLES, tmp, cores)
    try:
        for name, (cols, rows) in results.items():
            try:
                bad = oracle.check(con, sqls.get(name), cols, rows)
            except duckdb.Error as e:
                bad = f"oracle failed: {e}"
            if bad:
                wrong.append(name)
                print(f"WRONG {name}: {bad}", file=sys.stderr)
    finally:
        con.close()
    raised = {r["query"] for r in runner.rows if r["error"]}
    for name, kind, cfg in runner.items:
        if kind != "config" or name in raised:  # raised: counted as failed
            continue
        exp = cfg.expected(spark, data)
        cols = sorted(exp.columns)
        want = oracle.normalize([r.asDict() for r in exp.collect()], cols)
        for got_df in cfg.read_back(spark, os.path.join(
                runner.out_root, "pass0", name)):
            if sorted(got_df.columns) != cols or oracle.normalize(
                    [r.asDict() for r in got_df.collect()], cols) != want:
                wrong.append(name)
                print(f"WRONG {name}: written files differ from the "
                      "in-memory result", file=sys.stderr)
                break
    return wrong


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "__spark_entry__.py")):
        print("perfbench: no __spark_entry__.py in the working directory; "
              "run from the repo root", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl.sf
    load_start = os.getloadavg()[0]
    data = gendata.ensure(os.path.join(root, ".perfbench", "data"), sf,
                          args.seed)
    work = os.path.join(root, ".perfbench", "work",
                        f"{wl.name}-{os.getpid()}")
    dirs = host_env(root, work, data, args.cores)
    try:
        run = measure(args, wl, root, data, dirs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info = {"workload": wl.name, "seed": args.seed, "sf": sf,
            "cores": args.cores, "trace": args.trace,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0]}
    print(json.dumps(summarize(root, info, **run)))
    return 0


def measure(args, wl, root: str, data: str, dirs: dict) -> dict:
    """Set-up, timed passes and the correctness check, in one session."""
    sys.path.insert(0, root)
    t_setup = time.perf_counter()
    import __spark_entry__ as entry
    from benthos_spark.session import get_spark
    spark = get_spark(f"perfbench-{wl.name}", master=f"local[{args.cores}]",
                      **spark_conf(dirs, args.trace))
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    try:
        runner = Runner(spark, entry, wl, data, dirs["out"])
        results = runner.run_pass(collect=True)
        run = {"rows": runner.rows,
               "n_samples": MIN_PASSES * len(runner.items),
               "setup_s": time.perf_counter() - t_setup, "passes": []}
        tracer = None
        if not args.check:
            run["passes"], tracer = timed_passes(args, spark, runner,
                                                 jvm_pid)
            run["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        run["wrong"] = check_outputs(spark, entry, runner, results, data,
                                     dirs["tmp"], args.cores)
        if tracer:
            run["layers"] = tracer.report()
    finally:
        stop_spark(spark, jvm_pid)
    return run


def timed_passes(args, spark, runner: Runner, jvm_pid: int):
    """Passes until `--seconds` have passed, at least MIN_PASSES.  A
    traced run makes twice as many, half of them traced, so the overhead
    compares like with like.  Returns [(wall_s, cpu_s, traced)] and the
    tracer (None when untraced)."""
    tracer = None
    if args.trace:
        import tracing
        tracer = tracing.Tracer(spark, args.cores)
    passes = []
    min_passes = 2 * MIN_PASSES if tracer else MIN_PASSES
    t_window = time.perf_counter()
    while (len(passes) < min_passes
           or time.perf_counter() - t_window < args.seconds):
        # untraced, traced, traced, untraced: cancels the passes' drift
        traced = tracer is not None and len(passes) % 4 in (1, 2)
        pass_dir = runner.out_dir("")
        cpu0 = cpu_seconds(jvm_pid)
        runner.tracer = tracer if traced else None
        with (tracer.traced_pass(runner.n_pass, pass_dir) if traced
              else nullcontext()):
            runner.run_pass()
        passes.append((runner.last_pass_wall, cpu_seconds(jvm_pid) - cpu0,
                       traced))
        shutil.rmtree(pass_dir, ignore_errors=True)
    return passes, tracer


def summarize(root: str, info: dict, rows, n_samples, setup_s, passes, wrong,
              peak_rss_mb=None, layers=None) -> dict:
    """Print the human-readable summary, write the full record to
    `.perfbench/results/` and return the result line."""
    failed = sum(1 for r in rows if r["error"])
    result = {"correct": not wrong and not failed, "attempted": len(rows),
              "failed": failed, "metrics": {}}
    # informational: JVM VmHWM + driver max RSS moved by 0.09-0.22
    # (IQR / median) between seeds
    info.update(peak_rss_mb=peak_rss_mb,
                passes=len(passes), failed_frac=failed / len(rows),
                wrong_results=len(wrong), wrong=wrong,
                pass_walls_s=[p[0] for p in passes],
                pass_cpu_s=[p[1] for p in passes])
    out = {"info": info, "queries": rows}
    if passes:
        untraced = [p for p in passes if not p[2]]
        qtimes = [r["wall_s"] for r in rows if r["pass"] > 0
                  and not r["error"]]
        # Per-query times are informational: their median moved by 0.24
        # (IQR / median) between seeds.  The tail percentile is fixed per
        # workload from the guaranteed sample count; with a few dozen
        # executions per run it sits near p50.
        tail_p = tail_percentile(n_samples)
        info["query_p50_s"] = statistics.median(qtimes)
        info[f"query_p{tail_p}_s"] = statistics.quantiles(
            qtimes, n=100)[tail_p - 1]
        spreads = {"wall_s": spread([p[0] for p in untraced]),
                   "cpu_s": spread([p[1] for p in untraced]),
                   "setup_s": spread([setup_s])}
        out["end_to_end"] = spreads
        print(f"perfbench {json.dumps(info)}")
        print(f"{'metric':<14}{'unit':<7}{'median':>10}{'q1':>10}"
              f"{'q3':>10}  n")
        for k, unit in END_TO_END.items():
            s = spreads[k]
            print(f"{k:<14}{unit:<7}{s['median']:>10.4f}{s['q1']:>10.4f}"
                  f"{s['q3']:>10.4f}  {s['n']}")
            result["metrics"][k] = {"value": s["median"], "unit": unit}
        print(f"query_p50_s={info['query_p50_s']:.4f} query_p{tail_p}_s="
              f"{info[f'query_p{tail_p}_s']:.4f} (highest percentile with "
              f"ten of {len(qtimes)} samples beyond it); failed={failed}/"
              f"{len(rows)} wrong_results={len(wrong)}")
    else:
        print(f"perfbench check {json.dumps(info)}")
    if layers is not None:
        import tracing
        metrics, detail = layers
        detail["trace_overhead_s"] = (
            statistics.median(p[0] for p in passes if p[2])
            - statistics.median(p[0] for p in passes if not p[2]))
        out.update(detail, per_layer=metrics)
        n_ok = sum(q["within_5pct"] for q in detail["per_query"])
        print(f"tracing overhead: {detail['trace_overhead_s']:+.4f} s per "
              f"pass (traced minus untraced wall); build_s + exec_s within "
              f"5% of the traced wall for {n_ok}/{len(detail['per_query'])} "
              f"traced query executions")
        result["metrics"] = {k: {"value": v, "unit": tracing.UNITS[k]}
                             for k, v in metrics.items()
                             if k not in tracing.UNPRINTED}
    res_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(res_dir, exist_ok=True)
    name = (f"{info['workload']}-seed{info['seed']}-"
            f"{'check' if not passes else 'trace%d' % info['trace']}.json")
    with open(os.path.join(res_dir, name), "w") as f:
        json.dump(out, f, indent=1, default=str)
    return result


if __name__ == "__main__":
    sys.exit(main())
