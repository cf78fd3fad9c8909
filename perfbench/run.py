"""HandySpark engine benchmark: closed-loop registry batches, by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads are defined in ``workloads.py``. The first run in a checkout
prepares the inputs outside all timing (the warm workload's index cache
and the oracle frames). A run starts a Spark session sized from the host
and makes one pass over the workload's fixed query list, one query at a
time, each ``collect()``-ed, in an order shuffled by the seed. Every
collected result is checked against the query's DuckDB oracle outside
the timed region. A pass takes about ``--seconds`` on a 4-core host;
the value is recorded, not enforced, because a cold pass needs a fresh
process and a second pass in the same session would hit the registry's
per-session memos.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs the
same workload untraced in a child process (the comparator for the
tracing overhead), then makes the pass with the Spark event log, the
layer wrappers and ``query:phase`` job groups on, re-executes each
query's Dataset through the noop sink and ``collect()`` back to back,
and prints the per-layer metrics, parsed from the spans and the event
log.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records
the session config and host noise (CPU steal, load average). Everything
the benchmark writes goes under ``perfbench/.work`` in the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)

from stats import failed_share, median, self_times, tail  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
                    "query_tail_s": "s", "pass_share": "ratio",
                    "driver_rss_mb": "MB"}
LAYER_UNITS = {
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "sources.load_calls": "count", "sources.load_s": "s",
    "sources.scan_bytes": "bytes",
    "core.self_s": "s", "core.calls": "count",
    "core.persist_calls": "count",
    "operators.self_s": "s", "operators.calls": "count",
    "ml.self_s": "s", "ml.calls": "count",
    "functions.self_s": "s", "functions.calls": "count",
    "streaming.self_s": "s", "streaming.calls": "count",
    "pipeline.self_s": "s", "pipeline.calls": "count",
    "pipeline.index_cache.hits": "count",
    "pipeline.index_cache.misses": "count",
    "pipeline.index_cache.bytes_written": "bytes",
    "execute.noop_s": "s", "execute.jobs": "count",
    "execute.stages": "count", "execute.tasks": "count",
    "execute.executor_run_s": "s", "execute.executor_cpu_s": "s",
    "execute.gc_s": "s", "execute.shuffle_read_bytes": "bytes",
    "execute.shuffle_write_bytes": "bytes", "execute.spill_bytes": "bytes",
    "execute.jvm_rss_mb": "MB", "execute.python_s": "s",
    "execute.python_boot_s": "s", "execute.python_bytes": "bytes",
    "emit.s": "s", "emit.rows": "count", "emit.result_bytes": "bytes",
    "trace.overhead_share": "ratio",
}
LOAD_CALLS = {"sources.loader.load_table", "sources.loader.read_parquet"}
PERSIST_CALL = "core.cache.managed_persist"


# -- host ------------------------------------------------------------------
def host_config() -> dict:
    """Session sizing from the host: every CPU this process may use, and
    driver memory at 40% of MemTotal (the driver is the executor in local
    mode; Python workers and the OS keep the rest)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024,
            "driver_memory": f"{int(mem_kb * 0.4) // 1024}m"}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS (Linux)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def empty_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


# -- session ---------------------------------------------------------------
def start_spark(cfg: dict, event_log: str | None = None):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{cfg['cpus']}]")
         .appName("handyspark_spark-perfbench")
         .config("spark.sql.shuffle.partitions", str(cfg["cpus"]))
         .config("spark.default.parallelism", str(cfg["cpus"]))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", cfg["driver_memory"])
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (it exits on EOF of its stdin; its Python workers go with it)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def warm_up(spark, sf_dir: str) -> None:
    """Harness warm-ups paid in set-up: register every table in the
    registry's per-session table memo (otherwise whichever query the seed
    puts first pays each table's load), scan one into the noop sink, run
    a Python UDF and a pandas UDF on every core (starts the Python
    workers), and one parquet write (the first write of a session pays
    committer start-up)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from handyspark_spark import queries as Q
    from handyspark_spark.sources.loader import TABLES
    frames = {t: Q._t(spark, sf_dir, t) for t in TABLES}
    frames["nation"].write.format("noop").mode("overwrite").save()
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 4096, 1, n).selectExpr("id", "id % 7 AS k")
    plus1 = F.udf(lambda v: v + 1, "long")
    twice = F.pandas_udf(lambda s: s * 2, "long")
    (df.select(plus1("id").alias("a"), twice("k").alias("b"), "k")
     .groupBy("k").agg(F.sum("a"), F.sum("b")).collect())
    spark.createDataFrame(pd.DataFrame({"v": [1.0]})).groupBy().count() \
        .collect()
    spark.range(1).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(WORK, "tmp", "warm.parquet"))


# -- preparation -----------------------------------------------------------
def dataset_dir(workload: str) -> str:
    from data import testdata_dir
    return testdata_dir(ROOT, WORKLOADS[workload]["scale"])


def cache_root(workload: str) -> str:
    return os.path.join(WORK, "idx", workload)


def index_dependent(sql: str) -> bool:
    return "hsq_" in sql


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per table, as the oracle SQL
    expects (the same setup as tools/verify_oracle.py)."""
    import duckdb
    from data import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_normalize():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from verify_oracle import normalize
    return normalize


def prepare() -> None:
    """Build the inputs once per checkout, outside all timing: the warm
    workload's index cache, built by constructing its ``prebuilt``
    queries on its dataset (index builds happen at construction), and
    the cached oracle frames. It runs in a process of its own, so
    DuckDB's memory never counts in a run's driver RSS. Idempotent; the
    stamp file marks completion."""
    # the registry binds the cache root into its ANN oracle SQL at import
    (warm,) = [w for w, spec in WORKLOADS.items() if not spec["cold"]]
    os.environ["HSQ_INDEX_CACHE_ROOT"] = cache_root(warm)
    spark = start_spark(host_config())
    try:
        import __spark_entry__ as E
        qs = E.queries()
        for name in WORKLOADS[warm]["prebuilt"]:
            qs[name](spark, dataset_dir(warm))
    finally:
        stop_spark(spark)
    for w, spec in WORKLOADS.items():
        checker = Checker(w)
        for name in spec["queries"]:
            if not checker.live(name):
                checker.want(name)
    with open(os.path.join(WORK, "prepared"), "w") as f:
        f.write("ok\n")


def ensure_prepared() -> None:
    if os.path.exists(os.path.join(WORK, "prepared")):
        return
    subprocess.run([sys.executable, os.path.abspath(__file__),
                    "--prepare"], check=True, cwd=ROOT,
                   stdout=sys.stderr)


# -- the measured loop -----------------------------------------------------
class Checker:
    """Compares collected rows with the DuckDB oracle, outside timing."""

    def __init__(self, workload: str):
        import __spark_entry__ as E
        from oracle import OracleCache
        self.normalize = oracle_normalize()
        self.cold = WORKLOADS[workload]["cold"]
        self.root = cache_root(workload)
        self.cache = OracleCache(os.path.join(WORK, "oracle", workload),
                                 duckdb_views(dataset_dir(workload)))
        self.sqls = E.oracle_sql()

    def live(self, name: str) -> bool:
        """An oracle that reads a cold workload's index, which each run
        rebuilds: computed against that run's build, never cached."""
        return self.cold and index_dependent(self.sqls[name])

    def want(self, name: str):
        from oracle import index_state
        sql = self.sqls[name]
        if index_dependent(sql):
            return self.cache.get(name, sql, self.normalize,
                                  index_state(self.root),
                                  live=self.live(name))
        return self.cache.get(name, sql, self.normalize)

    def check(self, name: str, df, rows) -> str | None:
        from oracle import compare, rows_to_pandas
        spark = df.sparkSession
        # read_parquet pins the session time zone while a query builds
        got = self.normalize(rows_to_pandas(
            rows, df.schema, spark.conf.get("spark.sql.session.timeZone"),
            spark._jconf.pandasStructHandlingMode()))
        return compare(got, self.want(name))


def error_class(e: BaseException) -> str:
    """The exception class, and for errors raised inside a Python worker
    or the JVM the class named in the first line of the remote trace."""
    name = type(e).__name__
    text = str(e)
    for ln in reversed(text.splitlines()):
        head = ln.split(":", 1)[0].strip()
        if head.endswith(("Error", "Exception")) and " " not in head:
            return f"{name}({head.rsplit('.', 1)[-1]})"
    return name


def run_pass(spark, qs, order, sf_dir, checker, results, tracer=None,
             keep=None):
    """One pass over ``order``; returns {query: wall seconds} for the
    queries that ran and matched their oracle."""
    from handyspark_spark.pipeline.index_cache import drain_cache_events
    sc = spark.sparkContext
    walls: dict[str, float] = {}
    for i, name in enumerate(order):
        drain_cache_events()
        rec = results[name] = {}
        try:
            if tracer is not None:
                tracer.trace_id = f"{i}:{name}"
                sc.setJobGroup(f"{name}:construct", name)
                t0 = time.perf_counter()
                with tracer.span("queries", f"queries.{name}"):
                    df = qs[name](spark, sf_dir)
                sc.setJobGroup(f"{name}:collect", name)
                rows = df.collect()
                dt = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                rows = df.collect()
                dt = time.perf_counter() - t0
            rec["rss_mb"] = vm_hwm_mb()
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            rec["error"] = error_class(e)
            rec["message"] = str(e)[:300]
            print(f"perfbench: {name} failed: {rec['error']}",
                  file=sys.stderr)
            continue
        finally:
            evs = drain_cache_events()
            rec["cache_hits"] = sum(1 for e in evs if e["hit"])
            rec["cache_misses"] = sum(1 for e in evs if not e["hit"])
        try:
            bad = checker.check(name, df, rows)
        except Exception as e:  # noqa: BLE001 - the check itself failed
            bad = f"check raised {error_class(e)}: {str(e)[:200]}"
        rec["rows"] = len(rows)
        del rows
        reset_peak_rss()  # the check's own frames are not the driver's
        if bad:
            rec["error"] = "OracleMismatch"
            rec["message"] = bad
            print(f"perfbench: {name} mismatches its oracle: {bad}",
                  file=sys.stderr)
            continue
        walls[name] = dt
        rec.setdefault("wall_s", []).append(round(dt, 6))
        if keep is not None:
            keep[name] = df
    return walls


def measure(workload: str, seed: int, tracer=None,
            event_log: str | None = None) -> dict:
    """Set up and run one pass of the workload; the session stays up in
    ``out['spark']`` for the caller to stop. With a tracer, the wrappers
    go on before the set-up warm-ups and the pass's Datasets are kept for
    the noop and emit re-executions."""
    spec = WORKLOADS[workload]
    root = cache_root(workload)
    os.environ["HSQ_INDEX_CACHE_ROOT"] = root
    if spec["cold"]:
        empty_dir(root)
    order = list(spec["queries"])
    random.Random(seed).shuffle(order)
    cfg = host_config()

    t_setup = time.perf_counter()
    spark = start_spark(cfg, event_log)
    sys.path.insert(0, ROOT)
    import __spark_entry__ as E
    qs = E.queries()
    sf_dir = dataset_dir(workload)
    if tracer is None:
        warm_up(spark, sf_dir)
    else:
        # the table loads happen here, so they are recorded under a set-up
        # root span, apart from the queries' own spans
        tracer.install()
        with tracer.span("setup", "setup.warm_up"):
            warm_up(spark, sf_dir)
    setup_s = time.perf_counter() - t_setup

    checker = Checker(workload)
    from bench import _read_proc_stat, _steal_pct
    bytes0 = dir_bytes(root)
    stat0, load0 = _read_proc_stat(), loadavg()
    keep = {} if tracer is not None else None
    reset_peak_rss()
    results: dict[str, dict] = {}
    walls = run_pass(spark, qs, order, sf_dir, checker, results, tracer,
                     keep)
    steal = _steal_pct(stat0, _read_proc_stat())
    return {"spark": spark, "order": order, "setup_s": setup_s,
            "walls": walls, "results": results, "keep": keep, "config": {
                **cfg, "master": f"local[{cfg['cpus']}]",
                "shuffle_partitions": cfg["cpus"], "workload": workload,
                "seed": seed, "order": order, "cache_bytes_before": bytes0,
                "steal_pct": None if steal is None else round(steal, 3),
                "loadavg_start": load0, "loadavg_end": loadavg()}}


def end_to_end(m: dict) -> tuple[dict, int, int]:
    results = m["results"]
    attempted = len(results)
    failed = sum(1 for r in results.values() if "error" in r)
    per_q = m["walls"]
    if not per_q:
        raise RuntimeError("no query completed")
    # raises when failures left fewer than 11 samples: no tail to report
    tail_v, tail_pct, tail_n = tail(list(per_q.values()))
    m["config"]["tail"] = {"percentile": round(tail_pct, 2), "n": tail_n}
    values = {
        "setup_s": m["setup_s"],
        "wall_s": sum(per_q.values()),
        "query_p50_s": median(list(per_q.values())),
        "query_tail_s": tail_v,
        "pass_share": 1.0 - failed_share(failed, attempted),
        "driver_rss_mb": max(r["rss_mb"] for r in results.values()
                             if "rss_mb" in r),
    }
    return values, attempted, failed


def cache_flags(workload: str, results: dict) -> dict:
    hits = sum(r.get("cache_hits", 0) for r in results.values())
    misses = sum(r.get("cache_misses", 0) for r in results.values())
    flags = {"index_cache_hits": hits, "index_cache_misses": misses}
    if not WORKLOADS[workload]["cold"] and misses:
        flags["warm_cache_missing"] = True
        print(f"perfbench: {workload} expected a warm index cache but "
              f"saw {misses} misses; its timings include cold builds",
              file=sys.stderr)
    return flags


def emit(record: dict, values: dict, units: dict, attempted: int,
         failed: int) -> None:
    print(json.dumps({"record": {k: v for k, v in record.items()
                                 if k not in ("queries", "groups")}},
                     default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units}}))


def run_untraced(workload: str, seed: int, seconds: float) -> None:
    m = measure(workload, seed)
    m["config"]["seconds"] = seconds
    try:
        values, attempted, failed = end_to_end(m)
    finally:
        stop_spark(m["spark"])
    record = {**m["config"], **cache_flags(workload, m["results"]),
              "queries": m["results"]}
    write_detail(workload, seed, 0, record)
    emit(record, values, END_TO_END_UNITS, attempted, failed)


def run_traced(workload: str, seed: int, seconds: float) -> None:
    from tracing import Tracer, parse_event_log
    # the untraced comparator runs in its own process: a second pass in
    # this session would hit the registry's per-session memos
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    untraced_wall = json.loads(child.stdout.strip().splitlines()[-1])[
        "metrics"]["wall_s"]["value"]
    log_dir = os.path.join(WORK, "eventlog", f"{workload}-{seed}")
    empty_dir(log_dir)
    tracer = Tracer()
    m = measure(workload, seed, tracer, log_dir)
    spark, root = m["spark"], cache_root(workload)
    try:
        traced_wall = sum(m["walls"].values())
        bytes_b = dir_bytes(root)
        sc = spark.sparkContext
        noop_s = emit_s = 0.0
        emit_rows = 0
        for name in m["order"]:
            df = m["keep"].get(name)
            if df is None:
                continue
            # a fresh Dataset per execution: re-running one plan object
            # would reuse its shuffle output and skip stages
            sc.setJobGroup(f"{name}:noop", name)
            t0 = time.perf_counter()
            df.alias("perfbench_noop").write.format("noop").mode(
                "overwrite").save()
            t1 = time.perf_counter()
            sc.setJobGroup(f"{name}:emit", name)
            rows = df.alias("perfbench_emit").collect()
            t2 = time.perf_counter()
            noop_s += t1 - t0
            emit_s += (t2 - t1) - (t1 - t0)
            emit_rows += len(rows)
            m["results"][name].update(noop_s=t1 - t0, collect_s=t2 - t1)
            del rows
        pid = jvm_pid()
        jvm_rss = vm_hwm_mb(pid) if pid else float("nan")
        _, attempted, failed = end_to_end(m)
    finally:
        stop_spark(spark)

    spans = tracer.spans
    selfs = self_times(spans)
    groups = parse_event_log(log_dir)

    def phase(ph: str, key: str) -> float:
        return sum(v.get(key, 0.0) for g, v in groups.items()
                   if g.endswith(":" + ph))

    def layer_self(layer: str) -> float:
        return sum(s for s, sp in zip(selfs, spans) if sp["layer"] == layer)

    def layer_calls(layer: str) -> int:
        return sum(1 for sp in spans if sp["layer"] == layer)

    loads = [sp for sp in spans if sp["name"] in LOAD_CALLS and
             (sp["parent"] is None or
              spans[sp["parent"]]["name"] not in LOAD_CALLS)]
    res = m["results"]
    lv = {
        "queries.construct_s": sum(sp["end"] - sp["start"] for sp in spans
                                   if sp["layer"] == "queries"),
        "queries.construct_jobs": phase("construct", "jobs"),
        "sources.load_calls": len(loads),
        "sources.load_s": sum(sp["end"] - sp["start"] for sp in loads),
        "sources.scan_bytes": phase("construct", "scan_bytes") +
        phase("collect", "scan_bytes"),
        "core.persist_calls": sum(1 for sp in spans
                                  if sp["name"] == PERSIST_CALL),
        "pipeline.index_cache.hits": sum(r.get("cache_hits", 0)
                                         for r in res.values()),
        "pipeline.index_cache.misses": sum(r.get("cache_misses", 0)
                                           for r in res.values()),
        "pipeline.index_cache.bytes_written":
            bytes_b - m["config"]["cache_bytes_before"],
        "execute.noop_s": noop_s,
        "execute.jvm_rss_mb": jvm_rss,
        "emit.s": emit_s,
        "emit.rows": emit_rows,
        "emit.result_bytes": phase("emit", "result_bytes"),
        "trace.overhead_share": traced_wall / untraced_wall - 1.0,
    }
    for layer in ("core", "operators", "ml", "functions", "streaming",
                  "pipeline"):
        lv[f"{layer}.self_s"] = layer_self(layer)
        lv[f"{layer}.calls"] = layer_calls(layer)
    for key in ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "python_s",
                "python_boot_s", "python_bytes"):
        lv[f"execute.{key}"] = phase("noop", key)

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.write(os.path.join(WORK, "traces", f"{workload}-{seed}.jsonl"))
    silent = [layer for layer in WORKLOADS[workload]["layers"]
              if layer_calls(layer) == 0]
    record = {**m["config"], **cache_flags(workload, res),
              "untraced_wall_s": untraced_wall, "traced_wall_s": traced_wall,
              "groups": groups, "queries": res}
    write_detail(workload, seed, 1, record)
    if silent:
        sys.exit(f"perfbench: traced run saw no calls into {silent}, "
                 f"which {workload} must exercise; the wrappers are not "
                 f"attached, so its layer numbers would read as free")
    emit(record, lv, LAYER_UNITS, attempted, failed)


def write_detail(workload: str, seed: int, trace: int, record: dict) -> None:
    d = os.path.join(WORK, "runs")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}-{seed}-t{trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0,
                    help="nominal pass length; recorded")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build the inputs (runs start it themselves)")
    a = ap.parse_args()
    missing = [p for p in ("handyspark_spark", "__spark_entry__.py",
                           "bench.py", "TESTDATA.md",
                           os.path.join("tools", "make_sf.py"),
                           os.path.join("tools", "verify_oracle.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: the program is not in {ROOT} "
                 f"(missing {missing}); run from a full checkout")
    if not a.prepare and not a.workload:
        ap.error("--workload is required")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # files in the checkout too
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    if a.prepare:
        prepare()
        return
    ensure_prepared()
    if a.trace:
        run_traced(a.workload, a.seed, a.seconds)
    else:
        run_untraced(a.workload, a.seed, a.seconds)


if __name__ == "__main__":
    main()
