"""In-process spans around the package's public calls, for the traced run.

A span records its name, layer, start, end, parent and run id, and sets the
Spark job group for the actions it triggers, so `sparkmetrics` can later
attribute plan and stage metrics to it.  Spans live in memory and are
written out once the run ends.

Tracing patches module attributes of `honas_spark` for the duration of one
run and restores them afterwards; untraced runs execute the package as is.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager

# (module, attribute, layer).  A function imported under two names is
# patched under both; callers inside the package that import it at call
# time (cli.py does) then see the wrapper too.
TARGETS = [
    ("honas_spark.sources.corpus", "verify_content_sha", "sources"),
    ("honas_spark.sources.checkpoint", "build_resumable", "sources"),
    ("honas_spark.sources.checkpoint", "commit_window", "sources"),
    ("honas_spark.functions.text", "explode_keys", "text"),
    ("honas_spark.operators", "build_sketches", "build"),
    ("honas_spark.operators.sketch_agg", "build_sketches", "build"),
    ("honas_spark.operators.sketch_agg", "rollup_sketches", "merge"),
    ("honas_spark.operators.sketch_agg", "finalize_stats", "search"),
    ("honas_spark.operators.sketch_agg", "per_filter_stats", "search"),
    ("honas_spark.operators", "probe_sketches", "probe"),
    ("honas_spark.search", "probe_sketches", "probe"),
    ("honas_spark.search", "run_search", "search"),
    ("honas_spark.search", "general_information", "search"),
    ("honas_spark.search", "search_result_json", "search"),
    ("honas_spark.instrumentation", "instrument_run", "instrument"),
    ("honas_spark.operators.theta", "theta_sketch_agg", "family"),
    ("honas_spark.operators.quantiles", "quantile_sketch_agg", "family"),
]


class Tracer:
    """Collects spans of one run; `None` stands for "tracing off"."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            top = self._stack[-1] if self._stack else None
            if top is not None:
                self.sc.setJobGroup(top["id"], top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                result = fn(*args, **kwargs)
            if name == "verify_content_sha":
                # the guard returns its counts as a DataFrame that the
                # caller collects later: trace that action as the guard scan
                counts = result[1]
                counts.collect = self.wrap(
                    counts.collect, "verify_content_sha.counts", layer
                )
            return result

        return traced

    @contextmanager
    def patched(self):
        """Swap every TARGETS function for its traced wrapper."""
        saved, wrappers = [], {}
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            if id(fn) not in wrappers:
                wrappers[id(fn)] = self.wrap(fn, attr, layer)
            saved.append((mod, attr, fn))
            setattr(mod, attr, wrappers[id(fn)])
        try:
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
        for s in spans
    }


def union_length(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
