"""One measured process: set up, run one workload, check its outputs.

Started by ``run.py`` as a fresh process per run, with one argument:
the path of a JSON config that ``run.py`` wrote. It writes its
measurements next to that config as ``result.json``. A timed query
call is the query function (which returns the DataFrame) followed by
a noop-sink write, so every output column is computed.

Pass order:

1. cold: the first call of each query in this process;
2. settle, not timed: one pass that collects each query's result for
   the output check, then one noop-sink pass. The first warm passes
   after a cold one run 10-40% slower than later ones while the JVM
   compiles the plans' code;
3. warm: passes until the run's seconds are spent and at least
   ``min_passes`` are done;
4. the DuckDB oracles of the collected results, after all timing.

The traced run records spans and counters over the cold pass and the
first warm pass, then alternates untraced and traced warm passes so
that the tracing overhead is measured in the same process.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import statistics
import sys
import time
import traceback


def _process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start_epoch()

with open(sys.argv[1], encoding="utf-8") as _f:
    CFG = json.load(_f)
OUT_DIR = os.path.dirname(os.path.abspath(sys.argv[1]))
sys.path.insert(0, CFG["root"])
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dist_map_reduce_spark import caching, catalog, registry, session  # noqa: E402

import check  # noqa: E402
import eventlog  # noqa: E402
from spans import Tracer  # noqa: E402

TRACER = Tracer() if CFG["trace"] else None
if TRACER is not None:
    # before load_all(): query modules bind these names at import
    TRACER.install(catalog, caching)

t_import = time.time()
spark = session.get_spark("perfbench", extra_conf=CFG["spark_conf"])
t_session = time.time()
registry.load_all()
registry.load_staged()
t_ready = time.time()

QUERIES = {**registry.QUERIES, **registry.STAGED_QUERIES}
ORACLES = {**registry.ORACLES, **registry.STAGED_ORACLES}
NAMES: list[str] = CFG["queries"]
DATA = CFG["data_dir"]
WORKLOAD = CFG["workload"]

failures: list[dict] = []
attempted = 0


def _fail(name: str, label: str, error: str) -> None:
    failures.append({"query": name, "pass": label, "error": error[:500]})


def _traced_call(name: str, label: str) -> None:
    fn = QUERIES[name]
    sc = spark.sparkContext
    sc.setJobGroup(f"perfbench:{WORKLOAD}:{label}:{name}", f"{name} {label}")
    try:
        with TRACER.span("query", query=name, module=fn.__module__, label=label):
            with TRACER.span("build", query=name, label=label):
                df = fn(spark, DATA)
            TRACER.catalyst_phases(df)
            with TRACER.span("sink", query=name, label=label):
                df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def call(name: str, label: str, traced: bool = False) -> float | None:
    """One timed query call; its seconds, or None if it raised."""
    global attempted
    attempted += 1
    t0 = time.perf_counter()
    try:
        if traced:
            _traced_call(name, label)
        else:
            df = QUERIES[name](spark, DATA)
            df.write.format("noop").mode("overwrite").save()
    except Exception as e:  # a failing query is reported, not fatal
        traceback.print_exc()
        _fail(name, label, f"{type(e).__name__}: {e}")
        return None
    return time.perf_counter() - t0


def run_pass(label: str, traced: bool = False) -> tuple[float, dict[str, float], tuple[int, int]]:
    """(wall seconds, {query: seconds}, epoch-ms window) of one pass."""
    start = time.time()
    lat = {}
    for name in NAMES:
        s = call(name, label, traced)
        if s is not None:
            lat[name] = s
    end = time.time()
    return end - start, lat, (int(start * 1000), int(end * 1000) + 1)


def collect_pass() -> dict:
    """The settling pass: collect every query's result for the check."""
    global attempted
    got = {}
    for name in NAMES:
        attempted += 1
        try:
            got[name] = QUERIES[name](spark, DATA).toPandas()
        except Exception as e:  # a failing query is reported, not fatal
            traceback.print_exc()
            _fail(name, "settle", f"{type(e).__name__}: {e}")
    return got


def warm_passes(seconds: float, at_least: int, traced_every_other: bool):
    """Warm passes until ``seconds`` are spent and ``at_least`` done;
    with ``traced_every_other`` each untraced pass is followed by a
    traced one."""
    plain, traced = [], []
    t0 = time.perf_counter()
    while len(plain) < at_least or time.perf_counter() - t0 < seconds:
        if time.time() - PROCESS_START > CFG["deadline_s"] and plain:
            break
        plain.append(run_pass(f"warm{len(plain)}"))
        if traced_every_other:
            traced.append(run_pass(f"traced{len(traced)}", True))
    return plain, traced


result: dict = {
    "setup": {
        "setup_s": t_ready - PROCESS_START,
        "session.start_s": t_session - t_import,
        "registry.load_s": t_ready - t_session,
    }
}

def span(name: str, **attrs):
    return TRACER.span(name, **attrs) if TRACER is not None else contextlib.nullcontext()


def check_outputs(collected: dict) -> dict[str, str]:
    """Each collected result against its DuckDB oracle: "ok" or why not."""
    checks = {}
    con = check.oracle_connection(DATA, catalog.TABLES)
    for name in NAMES:
        if name not in collected:
            checks[name] = "raised"
            continue
        with span("check", query=name):
            try:
                want = con.execute(registry.resolve_oracle(ORACLES[name])).fetchdf()
                reason = check.compare(collected[name], want)
            except Exception as e:  # a failing oracle is reported, not fatal
                reason = f"oracle {type(e).__name__}: {e}"
        checks[name] = reason or "ok"
        if reason:
            _fail(name, "check", reason)
    con.close()
    return checks


with span("workload", workload=WORKLOAD):
    if TRACER is None:
        _, cold, _ = run_pass("cold")
        collected = collect_pass()
        run_pass("settle")
        t_collect = time.time()
        plain, _ = warm_passes(CFG["seconds"], CFG["min_passes"], False)
        result["warm_walls"] = [p[0] for p in plain]
        result["warm_samples"] = [s for p in plain for s in p[1].values()]
        result["warm_by_query"] = {q: [p[1][q] for p in plain if q in p[1]] for q in NAMES}
    else:
        TRACER.counting = True
        _, cold, w_cold = run_pass("cold", True)
        TRACER.counting = False
        collected = collect_pass()
        run_pass("settle")
        TRACER.counting = True
        _, _, w_warm = run_pass("warm", True)
        TRACER.counting = False
        plain, traced = warm_passes(CFG["seconds"], 2, True)
        storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        result["slot_bytes"] = sum(int(r.memSize()) + int(r.diskSize()) for r in storage)
        result["windows"] = [w_cold, w_warm]
        result["traced_walls"] = [p[0] for p in traced]
        result["plain_walls"] = [p[0] for p in plain]
    result["cold"] = cold
    t_warm = time.time()
    # output check: after all timing
    result["checks"] = check_outputs(collected)

result["context"] = {
    "nproc": os.cpu_count(),
    "cores_used": CFG["cores"],
    "default_parallelism": spark.sparkContext.defaultParallelism,
    "spark_version": spark.version,
    "python_version": platform.python_version(),
    "java_version": spark._jvm.System.getProperty("java.version"),
}
result["failures"] = failures
result["attempted"] = attempted

t_check = time.time()
spark.stop()
if TRACER is None:
    result["phases_s"] = {
        "setup": t_ready - PROCESS_START,
        "cold+settle": t_collect - t_ready,
        "warm": t_warm - t_collect,
        "check": t_check - t_warm,
        "stop": time.time() - t_check,
    }


def layer_metrics() -> dict:
    """Per-layer metrics of the cold pass plus the first warm pass."""
    log_dir = CFG["spark_conf"]["spark.eventLog.dir"]
    (log_name,) = os.listdir(log_dir)
    log = eventlog.read(os.path.join(log_dir, log_name))
    windows = result["windows"]
    out = eventlog.totals(log, windows)
    counted = [s for s in TRACER.spans if s.get("label") in ("cold", "warm")]
    jobs = eventlog.jobs_in(log, windows)

    def ms_window(s):
        return int(s["start"] * 1000), int(s["end"] * 1000) + 1

    builds = [s for s in counted if s["name"] == "build"]
    driver_only_ms = 0
    by_module: dict[str, float] = {}
    for s in counted:
        if s["name"] == "query":
            a, b = ms_window(s)
            driver_only_ms += (b - a) - eventlog.covered_ms(jobs, a, b)
            by_module[s["module"]] = by_module.get(s["module"], 0.0) + s["end"] - s["start"]
    result["query_s_by_module"] = by_module
    c = TRACER.counters
    calls = c["catalog.load_table_calls"]
    slot_events = c["caching.hits"] + c["caching.builds"]
    traced_warm = statistics.median(result["traced_walls"])
    out.update(
        {
            "session.start_s": result["setup"]["session.start_s"],
            "registry.load_s": result["setup"]["registry.load_s"],
            "catalog.load_table_calls": calls,
            "catalog.load_table_s": c["catalog.load_table_s"],
            "catalog.memo_hit_ratio": c["catalog.memo_hits"] / calls if calls else 0.0,
            "build_s": sum(s["end"] - s["start"] for s in builds),
            "build_jobs": len(eventlog.jobs_in(log, [ms_window(s) for s in builds])),
            "driver_only_s": driver_only_ms / 1e3,
            "caching.builds": c["caching.builds"],
            "caching.hits": c["caching.hits"],
            "caching.hit_ratio": c["caching.hits"] / slot_events if slot_events else 0.0,
            "caching.build_s": c["caching.build_s"],
            "caching.slot_bytes": result["slot_bytes"],
            "catalyst.analysis_s": c["catalyst.analysis_s"],
            "catalyst.optimization_s": c["catalyst.optimization_s"],
            "catalyst.planning_s": c["catalyst.planning_s"],
            "trace.warm_s": traced_warm,
            "trace.overhead_s": traced_warm - statistics.median(result["plain_walls"]),
        }
    )
    return out


if TRACER is not None:
    result["layers"] = layer_metrics()
    TRACER.dump(os.path.join(OUT_DIR, "spans.json"))

with open(os.path.join(OUT_DIR, "result.json"), "w", encoding="utf-8") as f:
    json.dump(result, f)
