"""The benchmark's own tests.

Run from the root of the repository::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

``test_tiny_run_emits_every_metric`` starts Spark twice (untraced and
traced) on sf0.001 inputs and takes about a minute.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import datagen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

RECORDED_LOG = os.path.join(HERE, "data", "eventlog_small.json")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_workloads_match_spec_and_have_oracles():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    sys.path.insert(0, ROOT)
    from dist_map_reduce_spark import registry

    registry.load_all()
    registry.load_staged()
    oracles = {**registry.ORACLES, **registry.STAGED_ORACLES}
    for wl in WORKLOADS.values():
        assert all(q in oracles for q in wl.queries), wl.name


def test_datagen_is_a_function_of_the_seed():
    a = datagen.tables(3, 0.001)
    b = datagen.tables(3, 0.001)
    c = datagen.tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    docs = a["documents"].to_pandas()
    assert docs["text"].str.endswith(" " + datagen.DUP_MARKER).sum() >= 25


def test_check_accepts_reordering_and_rejects_planted_errors():
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.1 + 0.2, 2.5, None]})
    same = pd.DataFrame({"v": [None, 2.5, 0.3], "k": [3, 2, 1]})
    assert check.compare(good, same) is None
    wrong_value = good.assign(v=[0.3, 2.6, None])
    assert check.compare(wrong_value, same) == "values differ from oracle"
    assert "rows" in check.compare(good.iloc[:2], same)
    assert "columns" in check.compare(good.rename(columns={"v": "w"}), same)


def test_check_rejects_a_planted_wrong_query_result(tmp_path):
    con_dir = tmp_path / "data"
    con_dir.mkdir()
    datagen.write(str(con_dir), 1, 0.001)
    con = check.oracle_connection(str(con_dir), ["lineitem"])
    sql = "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1"
    want = con.execute(sql).fetchdf()
    got = want.copy()
    assert check.compare(got, want) is None
    got.loc[0, "n"] += 1
    assert check.compare(got, want) == "values differ from oracle"


def test_eventlog_totals_on_recorded_log():
    log = eventlog.read(RECORDED_LOG)
    everything = [(0, 2**62)]
    t = eventlog.totals(log, everything)
    # pinned from the recorded log: see tests/data/README.md
    with open(os.path.join(HERE, "data", "eventlog_small.expected.json"), encoding="utf-8") as f:
        expected = json.load(f)
    for key, value in expected.items():
        assert t[key] == pytest.approx(value), key
    assert eventlog.totals(log, []) == pytest.approx({k: 0 for k in t})


def test_covered_ms_merges_overlapping_jobs():
    jobs = [
        eventlog.Job(0, 10, None, [], 20),
        eventlog.Job(1, 15, None, [], 30),
        eventlog.Job(2, 50, None, [], 60),
    ]
    assert eventlog.covered_ms(jobs, 0, 100) == 30
    assert eventlog.covered_ms(jobs, 25, 55) == 10


def test_tail_percentile_leaves_ten_samples_above():
    for q, p in [(5, 3), (3, 4), (7, 3)]:
        frac = run.tail_fraction(q, p)
        samples = list(range(q * p))
        value = run.nearest_rank(samples, frac)
        assert sum(s > value for s in samples) == 10


def _run(argv) -> tuple[int, list[str]]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(argv)
    return rc, out.getvalue().strip().splitlines()


def test_tiny_run_emits_every_metric(monkeypatch):
    tiny = Workload(
        "tiny",
        "sf0.001 smoke run",
        ("q3_shipping_priority", "arrow_text_stats_per_source", "streaming_wordcount_docs"),
        sf=0.001,
        min_passes=2,
    )
    monkeypatch.setitem(run.WORKLOADS, "tiny", tiny)
    spec = _spec()
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        rc, lines = _run(["--workload", "tiny", "--seed", "5", "--seconds", "1", "--trace", str(trace)])
        assert rc == 0
        final = json.loads(lines[-1])
        assert set(final) == {"correct", "attempted", "failed", "metrics"}
        assert final["correct"] is True and final["failed"] == 0, lines[-2]
        assert set(final["metrics"]) == {m["name"] for m in spec[section]}
        for m in spec[section]:
            assert final["metrics"][m["name"]]["unit"] == m["unit"]
        if trace:
            layers = {k: v["value"] for k, v in final["metrics"].items()}
            assert layers["python.bytes_sent"] > 0
            assert layers["stream.batches"] > 0
            assert layers["sched.jobs"] >= layers["build_jobs"]
