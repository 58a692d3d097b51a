"""In-memory span tracer for the traced run.

Spans are recorded at the benchmark's own call boundaries (one span per
workload operation, per query build and per query execution) and around
a fixed list of driver-side package functions, which are wrapped from
outside for the duration of the traced window and restored afterwards.
Each span holds name, layer, start, end, parent and request id; spans stay
in memory until ``write``.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

# driver-side orchestration functions, wrapped while tracing. Functions
# that run inside Python workers (udfs, core) are never wrapped: Spark
# would pickle the wrapper into the task.
TRACED = {
    "epstein_browser_spark.pipeline": [
        "run_extraction", "extract_transcripts", "completed_buckets",
    ],
    "epstein_browser_spark.fsutil": [
        "write_partition_overwrite", "write_text", "read_text",
        "list_names", "delete", "mkdirs", "exists", "rename",
    ],
    "epstein_browser_spark.curation": [
        "run_curation", "run_curation_increment", "curate_documents",
        "read_curated",
    ],
    "epstein_browser_spark.dedup": ["connected_components"],
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.request = 0

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "request": self.request, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrapper(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def patch(self) -> None:
        """Wrap every ``TRACED`` function, in its module and wherever a
        loaded package module holds a reference to it."""
        for modname, names in TRACED.items():
            mod = importlib.import_module(modname)
            layer = modname.rsplit(".", 1)[1]
            for name in names:
                orig = getattr(mod, name)
                wrapped = self._wrapper(orig, f"{layer}.{name}", layer)
                for holder in list(sys.modules.values()):
                    hname = getattr(holder, "__name__", "")
                    if not hname.startswith("epstein_browser_spark"):
                        continue
                    for attr, val in list(vars(holder).items()):
                        if val is orig:
                            setattr(holder, attr, wrapped)
                            self._patched.append((holder, attr, orig))

    def unpatch(self) -> None:
        for holder, attr, orig in reversed(self._patched):
            setattr(holder, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union([(c["start"], c["end"])
                              for c in children.get(s["id"], [])])
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def by_name(self) -> dict[str, dict]:
        """Call count and total seconds per span name."""
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union(intervals) -> float:
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
