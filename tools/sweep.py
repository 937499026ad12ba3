"""Full oracle sweep: run every registered query on Spark AND its
DuckDB oracle on the same fixture dir, compare canonicalized rows.

Usage:
    python tools/sweep.py [sf_dir]     # default /root/testdata/sf0.01

This is the repo-local replica of the driver's correctness gate,
runnable at ANY scale factor — run it at sf0.1 after touching any
rounded/float output path (two real boundary bugs — pandas
half-even rounding, DuckDB -0.0 — only materialized above the
driver's sf0.01).

Each line carries the query's Spark wall-time UNDER THIS FOREIGN
SESSION, first-run-cold — exactly what the driver pays — and the
sweep ends with the ten slowest. Two distinct signals hide in
these numbers: (a) one-time plan/codegen compile cost (iterative
queries like dedup_clusters or text_bpe_encode_docs spend 3-8 s
cold and <0.5 s on a second run — benign, data-independent), and
(b) genuine execution blowups that bench.py's warm engine session
masks (the r8 ingest band-index case: 15 s vs 1.1 s WARM and
interleaved, from InferFiltersFromGenerate inlining the signature).
To tell them apart, re-run the suspect twice in one process: only
(b) stays slow.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]



def _canon(pdf) -> list[tuple]:
    """Driver-style canonical rows: sorted columns, stringified cells,
    sorted tuples — ONE implementation so a future canonicalization
    fix (pandas half-even rounding, -0.0) lands everywhere at once."""
    return (
        pdf[sorted(pdf.columns)].astype(str)
        .apply(tuple, axis=1).sort_values().tolist()
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    bad: list[str] = []
    times: dict[str, float] = {}
    n = 0
    for name, fn in sorted(e.queries().items()):
        t0 = time.perf_counter()
        sp = fn(spark, sf_dir).toPandas()
        times[name] = time.perf_counter() - t0
        osql = e.oracle_sql().get(name)
        if osql is None:
            print(f"{name}: rows-only ({len(sp)} rows) {times[name]:.2f}s")
            continue
        n += 1
        od = con.execute(osql).fetchdf()
        ok = _canon(sp) == _canon(od)
        if not ok:
            bad.append(name)
        print(
            f"{name}: {'MATCH' if ok else 'MISMATCH'}"
            f" ({len(sp)} rows) {times[name]:.2f}s"
        )

    # STAGED (next-round) queries get the same engine-vs-oracle check
    # under this FOREIGN session — exactly what the driver will run
    # after promotion, so a foreign-session-only regression (e.g. an
    # optimizer-rule dependence masked by session.py's conf) surfaces
    # here a round early
    from dist_map_reduce_spark import registry

    n_staged = 0
    for name in sorted(registry.STAGED_ORACLES):
        t0 = time.perf_counter()
        sp = registry.STAGED_QUERIES[name](spark, sf_dir).toPandas()
        times[f"staged:{name}"] = time.perf_counter() - t0
        od = con.execute(registry.STAGED_ORACLES[name]).fetchdf()
        n_staged += 1
        ok = _canon(sp) == _canon(od)
        if not ok:
            bad.append(f"staged:{name}")
        print(
            f"staged:{name}: {'MATCH' if ok else 'MISMATCH'}"
            f" ({len(sp)} rows) {times[f'staged:{name}']:.2f}s"
        )

    # Staged-forever queries never get a driver stamp (saturation
    # policy, registry docstring), so their ONLY correctness
    # evidence at the driver's scale is in-repo. Re-run their parity
    # at sf0.01 whenever this sweep targeted a different scale, so the
    # evidence regenerates every round without a manual step
    # (VERDICT r13 #4).
    driver_sf = "/root/testdata/sf0.01"
    n_staged_driver_sf = 0
    if (
        os.path.realpath(sf_dir) != os.path.realpath(driver_sf)
        and os.path.isdir(driver_sf)
        and registry.STAGED_ORACLES
    ):
        con2 = duckdb.connect()
        for t in TABLES:
            con2.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{driver_sf}/{t}.parquet'"
            )
        for name in sorted(registry.STAGED_ORACLES):
            t0 = time.perf_counter()
            sp = registry.STAGED_QUERIES[name](spark, driver_sf).toPandas()
            dt = time.perf_counter() - t0
            times[f"staged@sf0.01:{name}"] = dt
            od = con2.execute(registry.STAGED_ORACLES[name]).fetchdf()
            ok = _canon(sp) == _canon(od)
            n_staged_driver_sf += 1
            if not ok:
                bad.append(f"staged@sf0.01:{name}")
            print(
                f"staged@sf0.01:{name}: {'MATCH' if ok else 'MISMATCH'}"
                f" ({len(sp)} rows) {dt:.2f}s"
            )

    print("\nslowest under the foreign session:")
    for name, t in sorted(times.items(), key=lambda x: -x[1])[:10]:
        print(f"  {t:7.2f}s  {name}")
    extra = (
        f" + {n_staged_driver_sf} staged re-checked at sf0.01"
        if n_staged_driver_sf
        else ""
    )
    print(
        f"\nchecked {n} oracles + {n_staged} staged at {sf_dir}{extra}; "
        f"mismatches: {bad}"
    )
    untracked = _untracked_evidence()
    if untracked:
        print(
            f"EVIDENCE UNTRACKED (git add + commit them): {untracked}"
        )
    return 1 if (bad or untracked) else 0


def _untracked_evidence() -> list[str]:
    """Round evidence files on disk but missing from the git index
    (the four-rounds-running slip VERDICT r9 #7 asked to make
    mechanical; tests/test_evidence_tracked.py is the pytest arm).
    The driver writes BENCH_r{N}/CORRECTNESS_r{N}.json after the
    builder's last commit, so the FIRST sweep of the next round is
    exactly where this fires."""
    import glob
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pats = ("BENCH_r*.json", "CORRECTNESS_r*.json")
    on_disk = {
        os.path.basename(p)
        for pat in pats
        for p in glob.glob(os.path.join(repo, pat))
    }
    try:
        ls = subprocess.run(
            ["git", "ls-files", *pats],
            cwd=repo,
            capture_output=True,
            text=True,
            timeout=30,
        )
        if ls.returncode != 0:
            print(
                "NOTE: evidence-tracking gate disabled this run "
                "(git ls-files failed) — the pytest arm still covers it"
            )
            tracked = on_disk
        else:
            tracked = set(ls.stdout.split())
    except Exception:
        print(
            "NOTE: evidence-tracking gate disabled this run "
            "(git unavailable) — the pytest arm still covers it"
        )
        return []
    return sorted(on_disk - tracked)


if __name__ == "__main__":
    raise SystemExit(main())
