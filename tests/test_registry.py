"""Registry and correctness-window guards, derived from driver evidence
on disk.

The verify harness records correctness rows for the FIRST 50 queries
``__spark_entry__.queries()`` returns each round, and that function
orders them stalest stamp first. These tests read the
``CORRECTNESS_r*.json`` files through the same reader
(``__spark_entry__.latest_stamps``) instead of hand-pinned literals,
so they stay valid across rounds:

- a query with NO driver row yet must be inside the window (it can
  never earn a stamp otherwise);
- with N registered queries and 50 slots the steady-state refresh
  cadence is ceil(N/50) rounds (derived from the live registry, not
  hard-coded), so no query OUTSIDE the window may carry a stamp more
  than that many rounds older than the newest evidence on disk.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as e
from dist_map_reduce_spark import registry

registry.load_all()

WINDOW_SIZE = 50
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_stamps() -> tuple[dict[str, int], int]:
    """(query -> newest round with a driver row, newest round on disk)."""
    latest = e.latest_stamps()
    return latest, max(latest.values(), default=0)


def test_never_stamped_queries_inside_window():
    latest, _ = _latest_stamps()
    window = set(list(e.queries())[:WINDOW_SIZE])
    missing = [n for n in registry.QUERIES if n not in latest and n not in window]
    assert not missing, (
        "queries with no driver correctness row registered outside the "
        f"{WINDOW_SIZE}-slot window and can never be stamped: {missing}"
    )


def test_no_stale_query_outside_window():
    latest, newest = _latest_stamps()
    if newest == 0:
        return  # no driver evidence yet (fresh clone) — nothing to enforce
    window = set(list(e.queries())[:WINDOW_SIZE])
    cadence = -(-len(registry.QUERIES) // WINDOW_SIZE)  # ceil
    floor = newest - cadence
    stale = [
        f"{n} (r{latest[n]})"
        for n in registry.QUERIES
        if n not in window and n in latest and latest[n] < floor
    ]
    assert not stale, (
        f"queries outside the {WINDOW_SIZE}-slot window carry driver stamps "
        f"older than r{floor} (newest evidence r{newest}): {stale}"
    )


def test_window_is_full():
    # fewer than WINDOW_SIZE registrations would silently shrink the
    # driver's evidence per round
    assert len(registry.QUERIES) >= WINDOW_SIZE


def test_every_query_has_unique_name_and_callable():
    assert len(registry.QUERIES) == len(set(registry.QUERIES))
    for name, fn in registry.QUERIES.items():
        assert callable(fn), name
    # every oracle belongs to a registered query
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_every_oracle_resolves_to_sql_text():
    """Every oracle, live or staged, is non-empty SQL text — exactly
    what the driver's oracle_sql() contract hands to DuckDB."""
    for name, sql in e.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
    for name, sql in registry.STAGED_ORACLES.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_staged_names_disjoint_from_live():
    assert not set(registry.STAGED_QUERIES) & set(registry.QUERIES)


def test_query_rejects_a_staged_name():
    """Both decorators check both registries, whatever order the
    modules import in."""
    name = "registry_probe_duplicate"

    def fn(spark, sf_dir):
        return None

    registry.staged_query(name)(fn)
    try:
        with pytest.raises(ValueError, match="duplicate query name"):
            registry.query(name)(fn)
        assert name not in registry.QUERIES
    finally:
        registry.STAGED_QUERIES.pop(name, None)


def test_queries_order_independent_of_import_order():
    """A fresh process that imports every query module in REVERSE
    package order before load_all() must hand the driver the same
    ordered query list as this process — with and without -O."""
    code = (
        "import importlib, json, pkgutil, sys\n"
        "sys.path.insert(0, %r)\n"
        "from dist_map_reduce_spark import functions, operators, streaming\n"
        "for pkg in (streaming, operators, functions):\n"
        "    mods = [m.name for m in pkgutil.iter_modules(pkg.__path__)]\n"
        "    for name in reversed(mods):\n"
        "        importlib.import_module(pkg.__name__ + '.' + name)\n"
        "from dist_map_reduce_spark import registry\n"
        "registry.load_all()\n"
        "import __spark_entry__\n"
        "print(json.dumps(list(__spark_entry__.queries())))\n" % REPO_ROOT
    )
    expected = list(e.queries())
    for flags in ([], ["-O"]):
        out = subprocess.run(
            [sys.executable, *flags, "-c", code],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert out.returncode == 0, out.stderr
        assert json.loads(out.stdout.strip().splitlines()[-1]) == expected


def test_staged_modules_register_no_unexpected_riders():
    """In a fresh process, importing a staged-forever module registers
    ZERO @query entries (only its staged names), and importing a live
    module registers nothing outside the live registry. Catches a
    staged module that starts registering live queries at import."""
    code = (
        "import json, sys; sys.path.insert(0, %r)\n"
        "from dist_map_reduce_spark import registry\n"
        "from dist_map_reduce_spark.functions import curation_funnel\n"
        "a = set(registry.QUERIES)\n"
        "from dist_map_reduce_spark.functions import quality_ccnet_buckets\n"
        "b = set(registry.QUERIES) - a\n"
        "from dist_map_reduce_spark.operators import delta_merge\n"
        "c = set(registry.QUERIES) - a - b\n"
        "from dist_map_reduce_spark.functions import text_bloom\n"
        "from dist_map_reduce_spark.functions import text_cms\n"
        "d = set(registry.QUERIES) - a - b - c\n"
        "assert not d, f'staged modules registered @query riders: {d}'\n"
        "s = set(registry.STAGED_QUERIES)\n"
        "print(json.dumps([sorted(a), sorted(b), sorted(c), sorted(s)]))\n"
        % REPO_ROOT
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    funnel, ccnet, merge, staged = json.loads(
        out.stdout.strip().splitlines()[-1]
    )
    live = set(registry.QUERIES)
    assert "curation_funnel" in funnel and set(funnel) <= live, funnel
    assert "quality_ccnet_buckets" in ccnet and set(ccnet) <= live, ccnet
    assert merge == ["cdc_merge_upsert_orders"], merge
    assert staged == ["text_bloom_decontaminate", "text_cms_heavy_hitters"], (
        staged
    )


def test_window_count_pins_in_fresh_subprocess():
    """A fresh process that only calls load_all() registers exactly the
    queries this process holds and orders the first WINDOW_SIZE of
    them identically — with and without -O (assert-stripped)."""
    code = (
        "import json, sys; sys.path.insert(0, %r)\n"
        "from dist_map_reduce_spark import registry\n"
        "registry.load_all()\n"
        "import __spark_entry__\n"
        "print(json.dumps([len(registry.QUERIES),"
        " list(__spark_entry__.queries())[:%d]]))\n" % (REPO_ROOT, WINDOW_SIZE)
    )
    for flags in ([], ["-O"]):
        out = subprocess.run(
            [sys.executable, *flags, "-c", code],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert out.returncode == 0, out.stderr
        n_total, window = json.loads(out.stdout.strip().splitlines()[-1])
        assert n_total == len(registry.QUERIES)
        assert window == list(e.queries())[:WINDOW_SIZE]


def test_registry_holds_at_saturation_ceiling():
    """SATURATION POLICY pin (registry docstring): the registered
    surface is capped at exactly 200 queries = 4 windows x 50, keeping
    the staleness cadence at ceil(200/50) = 4 rounds. A new operator
    must either DISPLACE a retired query (net zero, criteria in the
    registry docstring) or ship as a staged-forever parity-tested
    query. If you changed this number, you executed a displacement
    wrong or bypassed the policy."""
    assert len(registry.QUERIES) == 4 * WINDOW_SIZE, sorted(registry.QUERIES)


def test_staged_queries_are_bench_tracked():
    """Every staged query must be in bench.HEADLINE — the
    perf-track-a-round-early discipline (r8/r11/r12 precedent), so a
    promotion never lands with zero bench history."""
    import bench

    missing = [
        n for n in registry.STAGED_QUERIES if n not in bench.HEADLINE
    ]
    assert not missing, missing
