"""Benchmark of the query engine, driven from outside through its public entry
points: ``session.get_spark``, ``registry.load_all_queries``, the registered
query functions and the noop-sink write.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 8 --trace 0

One run, in one process, with one client (a closed loop) on local[$SPARK_GRAFT_CPUS]
(default: the cores this process may use):

1. set-up: starts the SparkSession, loads the query registry and runs every
   key of the workload once, collecting its rows and hashing them (warm-up);
2. runs passes over the keys until --seconds have passed (four at least),
   each pass in an order fixed by --seed, timing each key's query-function
   call (build) and its noop write (exec);
3. compares each key's warm-up rows with the key's DuckDB oracle on the
   same fixture.

The engine reads the fixture tables under perfbench/fixture/ (see
workloads.py); the run writes only under .bench_run/ and .bench_out/.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with --trace 0, the
per-layer metrics read from Spark's status stores with --trace 1. A traced
run also writes its spans to .bench_out/trace-<workload>-seed<seed>.json.
The exit code is 0 only if every execution succeeded and every result
matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_FILES = ("bench.py", "tools/verify_local.py", "hh_rumors_presto_spark/registry.py")
# Timed passes per run, however short --seconds is. Each pass is faster than
# the one before for about ten passes (the JIT keeps warming), so runs with
# the same number of passes are what compare; BENCHMARK.json's run_seconds is
# set short enough that this minimum decides.
MIN_PASSES = 4


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or not os.path.samefile(lines[0], ROOT):
        return None
    return lines[1]


def isolate(run_dir: str) -> None:
    """Keep every file the engine, its JVM and its Python workers write inside
    ``run_dir``, and let Spark's Python workers import the engine."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData",  # else the JVM writes /tmp/hsperfdata_<user>
        ])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")])
    )
    tempfile.tempdir = tmp
    os.chdir(run_dir)  # spark-warehouse/, metastore_db/ and derby.log land here


class Bench:
    def __init__(self, args, keys: tuple[str, ...], run_dir: str, sf_dir: str):
        self.args, self.keys, self.run_dir, self.sf_dir = args, keys, run_dir, sf_dir
        self.attempted = self.failed = 0
        self.spark = None
        self.counters = self.files = None

    # -- one execution -------------------------------------------------
    def execute(self, key: str, span: dict | None = None, collect: bool = False):
        """Build the key's DataFrame and run it through the noop sink, or
        collect its rows. Returns (build_s, exec_s, result), or None if the
        key raised; result is (row count, columns, value hash) when collecting."""
        fn = self.queries[key]
        self.attempted += 1
        result = None
        try:
            w0, t0 = time.time(), time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            w1, t1 = time.time(), time.perf_counter()
            if collect:
                rows = [tuple(r) for r in df.collect()]
            else:
                df.write.format("noop").mode("overwrite").save()
            w2, t2 = time.time(), time.perf_counter()
        except Exception:  # one failing key must not stop the measurement
            traceback.print_exc()
            print(f"perfbench: {key} raised", file=sys.stderr)
            self.failed += 1
            return None
        if collect:  # outside the timing; keep the hash, not the rows
            from tools.verify_local import value_hash

            result = len(rows), df.columns, value_hash(rows, df.columns)
        if span is not None:
            span.update(start=w0, end=w2, children=[
                {"name": "build", "start": w0, "end": w1, "children": []},
                {"name": "exec", "start": w1, "end": w2, "children": []},
            ])
        return t1 - t0, t2 - t1, result

    def traced(self, key: str, rep: int, pass_span: dict, totals: Counter) -> None:
        span = {"name": "query", "key": key, "rep": rep}
        self.spark.sparkContext.setJobGroup(f"perfbench:{key}:{rep}", key)
        self.files.start(time.time_ns())
        timing = self.execute(key, span)
        t0 = time.perf_counter()
        counts, jobs = self.counters.take()
        counts["sources.files_written"], counts["sources.bytes_written"] = self.files.take()
        span["counters"] = dict(counts)
        peak = counts.pop("spark.peak_exec_mem_bytes", 0)  # a maximum, not a sum
        totals.update(counts)
        totals["spark.peak_exec_mem_bytes"] = max(totals["spark.peak_exec_mem_bytes"], peak)
        if timing is not None:
            totals["queries.build_s"] += timing[0]
            totals["exec.noop_s"] += timing[1]
            build, exec_ = span["children"]
            for job in jobs:
                parent = exec_ if (job["start_ms"] or 0) >= build["end"] * 1e3 else build
                parent["children"].append(job)
        totals["trace.overhead_s"] += time.perf_counter() - t0
        pass_span["children"].append(span)

    # -- phases ----------------------------------------------------------
    def run(self) -> dict:
        from stats import pass_order
        from procs import PeakRss

        keys, seed = list(self.keys), self.args.seed
        rss = PeakRss(os.getpid())

        t0 = time.perf_counter()
        from hh_rumors_presto_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from hh_rumors_presto_spark import registry

        registry.load_all_queries()
        t2 = time.perf_counter()
        self.queries = registry.QUERIES
        missing = [k for k in keys if k not in registry.ORACLES]
        if missing:
            raise SystemExit(f"perfbench: keys without a DuckDB oracle: {missing}")
        # Warm-up: each key's first execution collects and hashes its rows,
        # which are compared with the key's oracle after the timed passes.
        # The JIT keeps warming for several passes more; a second warm-up
        # pass did not shorten that, so it stays in the timed passes.
        first = {key: self.execute(key, collect=True) for key in pass_order(keys, seed, 0)}
        setup_s = time.perf_counter() - t0

        if self.args.trace:
            from files import WrittenFiles
            from sparkstats import SparkCounters

            self.counters = SparkCounters(self.spark)
            self.files = WrittenFiles(self.run_dir, skip=("local",))
        root_span = {
            "name": "workload", "workload": self.args.workload, "start": time.time(), "children": [],
        }
        latencies: dict[str, list[float]] = {k: [] for k in keys}
        passes, per_pass = [], []
        loop_start = time.perf_counter()
        index = 1
        while index <= MIN_PASSES or time.perf_counter() - loop_start < self.args.seconds:
            p0 = time.perf_counter()
            pass_span = {"name": "pass", "index": index, "start": time.time(), "children": []}
            totals: Counter = Counter()
            for key in pass_order(keys, seed, index):
                if self.args.trace:
                    self.traced(key, index, pass_span, totals)
                    continue
                timing = self.execute(key)
                if timing is not None:
                    latencies[key].append(timing[0] + timing[1])
            passes.append(time.perf_counter() - p0)
            pass_span["end"] = time.time()
            root_span["children"].append(pass_span)
            if self.args.trace:
                totals["trace.pass_s"] = passes[-1]
                per_pass.append(totals)
            index += 1
        root_span["end"] = time.time()
        rss.stop()
        if self.files is not None:
            self.files.stop()

        self.check({k: v[2] for k, v in first.items() if v is not None})
        return {
            "setup_s": setup_s,
            "session_s": t1 - t0,
            "registry_s": t2 - t1,
            "passes": passes,
            "latencies": latencies,
            "warmup_s": {k: v[0] + v[1] for k, v in first.items() if v is not None},
            "per_pass": per_pass,
            "peak_rss": rss.peak,
            "peak_python": rss.peak_python,
            "spans": root_span,
        }

    def check(self, results: dict[str, tuple[int, list[str], str]]) -> None:
        """Compare each key's (row count, columns, value hash) with its DuckDB
        oracle's on the same fixture; the hash ignores row and column order."""
        import duckdb
        from hh_rumors_presto_spark import registry
        from tools.verify_local import TABLES, arrow_rows, value_hash

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        for key, (n_rows, cols, digest) in results.items():
            rel = con.execute(registry.ORACLES[key])
            ocols = [d[0] for d in rel.description]
            orows = arrow_rows(rel)
            same = (
                n_rows == len(orows)
                and sorted(cols) == sorted(ocols)
                and digest == value_hash(orows, ocols)
            )
            if not same:
                print(f"perfbench: {key} differs from its oracle "
                      f"({n_rows} rows vs {len(orows)})", file=sys.stderr)
                self.failed += 1
        con.close()

    def shutdown(self) -> None:
        """Stop the session, its JVM and every process below this one."""
        from procs import descendants, stop_all

        pids = descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None and gateway.proc is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    gateway.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    gateway.proc.kill()
                    gateway.proc.wait()
        stop_all(pids + descendants(os.getpid()))


def end_to_end(r: dict) -> tuple[dict, dict]:
    """(name -> (value, unit) of every end-to-end figure, diagnostics).

    BENCHMARK.json gates only some of the figures. pass_s and
    query_geomean_s are printed but not gated: on a shared 4-vCPU host their
    run-to-run spread on ``headline`` (IQR/median 0.26-0.29 over ten seeds)
    is wider than the largest bound allowed, 0.25. The whole-tree
    peak_rss_gb is not gated either: the JVM heap keeps growing through a
    run, so it varies with run length and GC timing.
    """
    from stats import geomean, slowdowns, tail_percentile

    medians = {k: statistics.median(v) for k, v in r["latencies"].items() if v}
    ratios = slowdowns({k: v for k, v in r["latencies"].items() if v})
    # latency / key median over every timed execution, at the highest
    # percentile with ten samples beyond it (None below 11 samples)
    tail = tail_percentile(ratios)
    figures = {
        "setup_s": (r["setup_s"], "s"),
        "pass_s": (statistics.median(r["passes"]), "s"),
        "query_geomean_s": (geomean(list(medians.values())), "s"),
        "query_slowdown_tail": (tail and tail[1], "ratio"),
        "python_peak_gb": (r["peak_python"] / 2**30, "GiB"),
        "peak_rss_gb": (r["peak_rss"] / 2**30, "GiB"),
    }
    diagnostics = {
        "query_slowdown_tail": {
            "percentile": tail and tail[0], "max": max(ratios), "samples": len(ratios),
        },
        "passes": r["passes"],
        "session_s": r["session_s"],
        "registry_s": r["registry_s"],
        "key_median_s": medians,
        "key_warmup_s": r["warmup_s"],
        "key_latencies_s": r["latencies"],
    }
    return figures, diagnostics


def per_layer(r: dict, cores: int) -> tuple[dict, list[str]]:
    from compare_traces import varying_counts

    rows = r["per_pass"]
    for row in rows:
        wall = row["queries.build_s"] + row["exec.noop_s"]
        row["spark.core_idle_ratio"] = (
            1 - row["spark.executor_run_s"] / (wall * cores) if wall else 1.0
        )
        row["spark.empty_partition_ratio"] = (
            row["spark.empty_tasks"] / row["spark.tasks"] if row["spark.tasks"] else 0.0
        )
    once = {  # measured once per run; every other metric is a median over passes
        "session.start_s": r["session_s"],
        "registry.load_s": r["registry_s"],
        "proc.peak_rss_gb": r["peak_rss"] / 2**30,
    }
    metrics = {
        name: once[name] if name in once else statistics.median(row[name] for row in rows)
        for name in metric_units("per_layer")
    }
    return metrics, varying_counts(r)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import FIXTURE_SF, workloads
    from bench import _host_probe

    name, keys = args.workload, workloads().get(args.workload)
    if keys is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    context = {
        "workload": name, "keys": list(keys), "sf": FIXTURE_SF, "seed": args.seed,
        "nproc": os.cpu_count(), "cores_allowed": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "git_commit": git_commit(),
        "host_probe": _host_probe(),  # before any JVM exists, as bench.py does
    }
    run_dir = os.path.join(ROOT, ".bench_run", f"{name}-{args.seed}-{os.getpid()}")
    bench = Bench(args, keys, run_dir, os.path.join(HERE, "fixture", f"sf{FIXTURE_SF}"))
    try:
        isolate(run_dir)
        result = bench.run()
    finally:
        try:
            bench.shutdown()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)

    cores = int(context["SPARK_GRAFT_CPUS"])
    units = metric_units("per_layer" if args.trace else "end_to_end")
    if args.trace:
        metrics, varying = per_layer(result, cores)
        figures = {n: (v, units[n]) for n, v in metrics.items()}
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{name}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"context": context, "per_pass": result["per_pass"],
                       "varying_counts": varying, "spans": result["spans"]}, f, indent=1)
        print(f"trace: {path}")
        print(f"varying counts across passes: {varying or 'none'}")
        print(f"tracing overhead: trace.pass_s {metrics['trace.pass_s']:.3f} s, "
              f"of which reading Spark's stores {metrics['trace.overhead_s']:.3f} s")
    else:
        figures, diagnostics = end_to_end(result)
        print("diagnostics " + json.dumps(diagnostics))
    print("context " + json.dumps(context))
    missing = [n for n in units if n not in figures or figures[n][1] != units[n]]
    if missing:
        raise SystemExit(f"perfbench: BENCHMARK.json metrics not measured as listed: {missing}")
    figures["fail_ratio"] = (bench.failed / bench.attempted, "ratio")
    for metric, (value, unit) in figures.items():
        gate = "" if metric in units else "  (not in BENCHMARK.json)"
        print(f"{name}  {metric:<28} {value if value is None else f'{value:.6g}'} {unit}{gate}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": figures[n][0], "unit": u} for n, u in units.items()},
    }), flush=True)
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
