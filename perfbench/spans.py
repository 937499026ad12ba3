"""In-memory spans and layer counters for the traced run.

:class:`Tracer` wraps the public functions of the engine's
``catalog`` and ``caching`` modules. It must be installed before
``registry.load_all()``: query modules bind ``load_table`` and
``persist_tracked`` by name when they are imported. Spans
(workload -> query -> build / sink / check) stay in memory until
:meth:`Tracer.dump` writes them at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # counters accumulate only while ``counting`` is set
        self.counting = False
        self.counters: dict[str, float] = {
            "catalog.load_table_calls": 0,
            "catalog.load_table_s": 0.0,
            "catalog.memo_hits": 0,
            "caching.builds": 0,
            "caching.hits": 0,
            "caching.build_s": 0.0,
            **{f"catalyst.{p}_s": 0.0 for p in PHASES},
        }

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; spans opened inside it name it as parent."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        if self.counting:
            self.counters[key] += value

    def install(self, catalog, caching) -> None:
        """Wrap catalog.load_table and caching.persist_tracked / peek in
        place (``get_or_build`` reaches both through module globals)."""
        load_table = catalog.load_table

        @functools.wraps(load_table)
        def traced_load_table(spark, sf_dir, name):
            before = catalog._DF_MEMO.get((sf_dir, name))
            t0 = time.perf_counter()
            df = load_table(spark, sf_dir, name)
            self.add("catalog.load_table_s", time.perf_counter() - t0)
            self.add("catalog.load_table_calls", 1)
            self.add("catalog.memo_hits", int(before is not None and before[2] is df))
            return df

        persist_tracked = caching.persist_tracked

        @functools.wraps(persist_tracked)
        def traced_persist_tracked(df, slot, *args, **kwargs):
            prev = caching._SLOTS.get(slot)
            t0 = time.perf_counter()
            out = persist_tracked(df, slot, *args, **kwargs)
            if prev is not None and out is prev[1]:
                self.add("caching.hits", 1)
            else:
                self.add("caching.builds", 1)
                self.add("caching.build_s", time.perf_counter() - t0)
            return out

        peek = caching.peek

        @functools.wraps(peek)
        def traced_peek(*args, **kwargs):
            out = peek(*args, **kwargs)
            if out is not None:
                self.add("caching.hits", 1)
            return out

        catalog.load_table = traced_load_table
        caching.persist_tracked = traced_persist_tracked
        caching.peek = traced_peek

    def catalyst_phases(self, df) -> None:
        """Plan ``df`` fully and add its Catalyst phase times. The noop
        write plans in a QueryExecution of its own, so this forces the
        DataFrame's plan to read the same phases."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.add(f"catalyst.{p}_s", opt.get().durationMs() / 1e3)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)
