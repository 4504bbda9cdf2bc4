"""Spans around the public callables ``run_crawl`` reaches.

The traced run installs wrappers (``install``) that record one span per
call: name, start, end, thread, parent. The parent is the enclosing span
on the same thread, or, for work handed to a ``_BgTask`` thread, the
span that launched the task. Spans stay in memory and are written out
when the run ends. Nothing here changes what the wrapped code does.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
import traceback
from collections import defaultdict

from pyspark import traceback_utils


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self):
        st = self._stack()
        return st[-1]["id"] if st else None

    def begin(self, name: str, parent=None) -> dict:
        st = self._stack()
        span = {"id": next(self._ids), "name": name,
                "parent": parent if parent is not None
                else (st[-1]["id"] if st else None),
                "thread": threading.get_ident(),
                "start": time.perf_counter(), "end": None, "attrs": {}}
        st.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, name: str, fn, attrs=None):
        """``fn`` recorded as span ``name``; ``attrs(result, args)``
        may add attributes after the call returns."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                out = fn(*args, **kwargs)
                if attrs is not None:
                    span["attrs"].update(attrs(out, args))
                return out
            finally:
                self.end(span)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def install(tracer: Tracer) -> list:
    """Patch the traced callables; returns the (owner, attr, original)
    list that ``uninstall`` restores."""
    from pyspark.sql import DataFrameReader, DataFrameWriter, SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from ftw_crawler_spark.operators import linkgraph, politeness, seen
    from ftw_crawler_spark.operators.indexsink import IndexSink
    from ftw_crawler_spark.plans import crawl

    patches = []

    def patch(owner, attr, name, attrs=None):
        orig = getattr(owner, attr)
        patches.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig, attrs))

    # imported into plans.crawl's namespace: patch them there
    patch(crawl, "extract_documents", "extraction.extract_documents")
    patch(crawl, "build_frontier", "sitemaps.build_frontier")
    patch(crawl, "purge_candidates", "incremental.purge_candidates")
    patch(crawl, "_resume_state", "checkpoint.resume")
    patch(crawl, "_write_ckpt", "checkpoint.write_full")
    patch(crawl, "_write_delta_ckpt", "checkpoint.write_delta")
    patch(crawl._BgTask, "join", "crawl.bg_wait")
    # driver-side steps of the crawl's own thread: plan construction,
    # world and checkpoint listing, parquet footer reads
    patch(crawl, "_load_world", "crawl.load_world")
    patch(crawl, "sites_df", "crawl.sites_df")
    patch(crawl, "_annotate_frontier", "crawl.annotate_plan")
    patch(crawl, "_annotate_discovered", "crawl.annotate_discovered_plan")
    patch(crawl, "_batch_resources", "crawl.fetch_plan")
    patch(crawl, "_parquet_rows", "crawl.footer_rows")
    patch(crawl, "_committed_batches", "checkpoint.list")
    # looked up on their module or class at call time
    for fn in ("initial_host_state", "select_batch", "updated_host_state"):
        patch(politeness, fn, f"politeness.{fn}")
    patch(seen.IncrementalUrlFilter, "__init__", "seen.filter_build",
          attrs=lambda _out, args: {
              "relation_form": not args[0].is_broadcastable})
    patch(seen.IncrementalUrlFilter, "add", "seen.filter_add")
    patch(seen.IncrementalUrlFilter, "add_bytes", "seen.filter_add")
    patch(seen.IncrementalUrlFilter, "split", "seen.filter_split")
    patch(linkgraph, "candidates_from_links", "linkgraph.candidates")
    for fn in ("append_upserts", "append_deletes", "compact", "current",
               "write_base_files", "should_compact"):
        patch(IndexSink, fn, f"indexsink.{fn}")
    patch(IndexSink, "__init__", "indexsink.open")
    # the Spark actions: where the time of a lazy plan is actually spent
    for fn in ("collect", "count", "localCheckpoint", "toPandas",
               "unpersist"):
        patch(DataFrame, fn, f"spark.{fn}")
    patch(DataFrameWriter, "parquet", "spark.write_parquet")
    patch(DataFrameReader, "parquet", "spark.read_parquet")
    patch(SparkSession, "createDataFrame", "spark.create_dataframe")

    # keep Spark's job call sites pointing at the program, not at the
    # wrappers above
    patches.append((traceback_utils, "first_spark_call",
                    traceback_utils.first_spark_call))
    traceback_utils.first_spark_call = _first_spark_call

    # work handed to a background thread: its span's parent is the span
    # that launched the task
    orig_init = crawl._BgTask.__init__
    patches.append((crawl._BgTask, "__init__", orig_init))

    def bg_init(self, fn, *args):
        parent = tracer.current()
        name = "bg." + getattr(fn, "__name__", "task")

        def run(*a):
            span = tracer.begin(name, parent=parent)
            try:
                return fn(*a)
            finally:
                tracer.end(span)
        orig_init(self, run, *args)

    crawl._BgTask.__init__ = bg_init
    return patches


def _first_spark_call():
    """pyspark.traceback_utils.first_spark_call with this file's frames
    left out of the stack."""
    tb = [f for f in traceback.extract_stack()
          if f.filename != os.path.abspath(__file__)]
    sparkpath = os.path.dirname(tb[-1].filename)
    first = next((i for i, f in enumerate(tb)
                  if f.filename.startswith(sparkpath)), len(tb) - 1)
    user = tb[max(first - 1, 0)]
    return traceback_utils.CallSite(function=tb[first].name,
                                    file=user.filename, linenum=user.lineno)


def uninstall(patches: list) -> None:
    for owner, attr, orig in reversed(patches):
        setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# arithmetic over recorded spans
# ---------------------------------------------------------------------------


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list) -> dict:
    """span id → duration minus the part of it its children cover.
    Children on other threads (background tasks) count by the interval
    they cover, so overlapping children are never subtracted twice."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids[s["id"]], s["start"], s["end"])
            for s in spans}


def attributed_share(spans: list, root: dict) -> float:
    """Share of ``root``'s wall that spans on its own thread, nested
    anywhere below it, cover: time the crawl's caller thread spent in a
    named layer, a Spark action or a wait on a background task."""
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append(s)
    inside, todo = [], [root["id"]]
    while todo:
        for s in by_parent.get(todo.pop(), []):
            if s["thread"] == root["thread"]:
                inside.append((s["start"], s["end"]))
            todo.append(s["id"])
    wall = root["end"] - root["start"]
    return covered(inside, root["start"], root["end"]) / wall if wall else 0.0


def totals(spans: list) -> dict:
    """name → (summed duration, call count)."""
    out: dict = defaultdict(lambda: [0.0, 0])
    for s in spans:
        out[s["name"]][0] += s["end"] - s["start"]
        out[s["name"]][1] += 1
    return {k: tuple(v) for k, v in out.items()}
