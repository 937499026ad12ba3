"""Layered benchmark of the engine: cold and warm noop-sink latency.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Generates the workload's input tables from ``--seed``, then starts one
fresh measured process (``measure.py``) on ``local[<cores>]``, where
``<cores>`` is the number of CPUs this process may run on. With
``--trace 0`` the last line of standard output is a JSON object whose
metrics are the end-to-end ones (``setup_s``, ``cold_s``, ``warm_s``,
``warm_query_p50_s``, ``warm_query_tail_s``); with ``--trace 1`` they
are the per-layer ones. The line before it holds the machine context,
the failure ratio, each failing query by name and the tail percentile
with its sample count.

Every run starts from the same on-disk state: the generated tables and
the engine's scratch directory for them are deleted before and after
the run. Everything is written under ``perfbench/.work`` and the
engine's ``.scratch``, inside the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PROGRAM = "dist_map_reduce_spark"
# the measured process is stopped after this many seconds
CHILD_TIMEOUT_S = 170
# no new warm pass starts after this many seconds of the measured process
DEADLINE_S = 120
# driver heap: a 4-core run of these workloads stays well below 4g, and a
# smaller heap keeps the JVM small on a machine shared with others
DRIVER_MEM = "4g"

def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio"):
        return "1"
    return "count"


def tail_fraction(n_queries: int, min_passes: int) -> float:
    """Highest percentile (as a fraction) that leaves at least ten of
    ``n_queries * min_passes`` pooled samples above it."""
    return 1.0 - 10.0 / (n_queries * min_passes)


def nearest_rank(samples: list[float], fraction: float) -> float:
    ordered = sorted(samples)
    rank = math.ceil(round(fraction * len(ordered), 9))
    return ordered[max(0, rank - 1)]


def program_digest() -> str:
    """Git commit when the checkout is a repository, else a hash of
    the program's sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=True
            )
            return out.stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PROGRAM)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def _wait_group_gone(pgid: int, timeout_s: float) -> None:
    """Wait until every process of group ``pgid`` has ended, killing
    what is left after ``timeout_s``."""
    end = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > end:
            os.killpg(pgid, sig)
            sig = signal.SIGKILL
            end = time.monotonic() + 5
        time.sleep(0.1)


def run_child(cfg_path: str, env: dict[str, str]) -> int:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "measure.py"), cfg_path],
        env=env,
        cwd=os.path.dirname(cfg_path),
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        return proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: measured process timed out", file=sys.stderr)
        return -1
    finally:
        # also reached on SIGTERM (see main): no process of the run outlives it
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _wait_group_gone(proc.pid, 15)


def end_to_end(res: dict, n_queries: int, min_passes: int) -> tuple[dict, dict]:
    samples = res["warm_samples"]
    frac = tail_fraction(n_queries, min_passes)
    values = {
        "setup_s": res["setup"]["setup_s"],
        "cold_s": sum(res["cold"].values()),
        "warm_s": statistics.median(res["warm_walls"]),
        "warm_query_p50_s": statistics.median(samples),
        "warm_query_tail_s": nearest_rank(samples, frac),
    }
    extra = {
        "phases_s": res["phases_s"],
        "warm_walls": res["warm_walls"],
        "warm_query_medians": {q: statistics.median(v) for q, v in res["warm_by_query"].items()},
        "tail_percentile": round(100 * frac, 1),
        "tail_samples": len(samples),
    }
    return values, extra


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PROGRAM)):
        print(f"perfbench: no {PROGRAM}/ package next to perfbench/", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    load_at_start = os.getloadavg()

    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"run-{wl.name}-trace{args.trace}")
    tag = f"{wl.name}-s{args.seed}"
    data_dir = os.path.join(work, "data", tag)
    engine_scratch = os.path.join(ROOT, ".scratch", tag)
    stale = (run_dir, data_dir, engine_scratch)
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))

    inputs = datagen.write(data_dir, args.seed, wl.sf, wl.doc_scale)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cfg = {
        "root": ROOT,
        "workload": wl.name,
        "queries": list(wl.queries),
        "data_dir": data_dir,
        "seconds": args.seconds,
        "min_passes": wl.min_passes,
        "deadline_s": DEADLINE_S,
        "trace": bool(args.trace),
        "cores": cores,
        "spark_conf": conf,
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as f:
        json.dump(cfg, f)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            # every JVM (the launcher too) keeps its temp files in the
            # checkout and writes no /tmp/hsperfdata_* file
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        }
    )

    try:
        rc = run_child(cfg_path, env)
        res_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            print(f"perfbench: measured process failed (exit {rc})", file=sys.stderr)
            return 1
        with open(res_path, encoding="utf-8") as f:
            res = json.load(f)
    finally:
        for d in (data_dir, engine_scratch):
            shutil.rmtree(d, ignore_errors=True)
        for sub in ("local", "tmp", "warehouse", "eventlog"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    attempted, failed = res["attempted"], len(res["failures"])
    context = {
        **res["context"],
        "load_avg_at_start": load_at_start,
        "program": program_digest(),
        "workload": wl.name,
        "sf": wl.sf,
        "doc_scale": wl.doc_scale,
        "dup_share": datagen.DUP_SHARE,
        "seed": args.seed,
        "input_rows": {k: v for k, v in inputs.items() if k != "bytes"},
        "input_bytes": inputs["bytes"],
    }
    report: dict = {
        "context": context,
        "failed_ratio": failed / attempted,
        "failing": sorted({f["query"] for f in res["failures"]}),
        "checks": res["checks"],
    }
    if args.trace:
        values = res["layers"]
        report["query_s_by_module"] = res["query_s_by_module"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(values.items())}
    else:
        values, extra = end_to_end(res, len(wl.queries), wl.min_passes)
        report.update(extra)
        metrics = {k: {"value": v, "unit": "s"} for k, v in values.items()}
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
