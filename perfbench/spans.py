"""Span tracing from outside the program, for the benchmark's traced runs.

``CrawlTracer.install()`` replaces each layer's public function, as the
engine module references it, with a wrapper that records a span (name,
start, end, parent span, wave) and row counts. Spark is lazy, so a wrapper
whose function returns a DataFrame forces it once with an eager
``localCheckpoint`` and returns the checkpointed frame: the span then covers
that layer's execution, and the engine's later actions read the checkpoint.
Row counts ride the same job through an ``Observation``; the few extra
aggregates (fetch status, parse and decode errors, input sizes) run as their
own small jobs inside spans named ``trace.*``, so they show as tracing cost
and never as a layer's.

Spans stay in memory until ``layer_metrics`` turns them into per-layer
numbers. Self time comes from a sweep over the crawl's timeline: each
instant belongs to the innermost spans open at that instant (split evenly
when concurrent spans of different layers overlap), and instants no span
covers belong to the engine's driver loop. Layer self times plus
``engine.self_s`` therefore add up to the traced wall exactly, even though
store writes run concurrently.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Layer of each traced function, keyed by span name.
LAYER_OF = {
    "select_wave": "operators.politeness",
    "salt_and_partition": "operators.politeness",
    "live_fetch": "operators.fetch",
    "live_fetch_robots": "operators.fetch",
    "with_parsed": "operators.parse",
    "build_candidates": "operators.discover",
    "apply_rule_filters": "operators.admission",
    "apply_robots": "operators.admission",
    "dedup_against_seen": "operators.admission",
    "apply_max_req": "operators.admission",
    "with_decoded": "functions.imaging",
    "store.write": "sources.store",
    "store.append": "sources.store",
    "store.read": "sources.store",
    "store.pending_frontier": "sources.store",
    "store.seen": "sources.store",
    "store.commit_wave": "sources.store",
    "trace.count": "trace",
}
CRAWL_LAYERS = sorted(set(LAYER_OF.values()) - {"trace"})
_STORE_READS = ("store.read", "store.pending_frontier", "store.seen")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    wave: int | None = None
    counts: dict = field(default_factory=dict)


def force(df: DataFrame) -> tuple[DataFrame, int]:
    """Execute ``df`` once (eager local checkpoint); return the checkpointed
    frame and its row count, observed inside the same job."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, int(obs.get["n"])


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    if os.path.isdir(path):
        for name in os.listdir(path):
            if name.endswith(".parquet"):
                out[name] = os.path.getsize(os.path.join(path, name))
    return out


class CrawlTracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.wave: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # -- spans -------------------------------------------------------------

    def _open(self, name: str) -> Span:
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(),
                     parent=stack[-1].sid if stack else None, wave=self.wave)
            self.spans.append(s)
        stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._local.stack.pop()

    def _count(self, df: DataFrame, **aggs) -> dict:
        """Row count of ``df`` (plus named aggregates) in a ``trace.count``
        span: tracing's own cost, kept out of the layers' time."""
        s = self._open("trace.count")
        try:
            exprs = [F.count(F.lit(1)).alias("rows")] + [
                e.alias(k) for k, e in aggs.items()
            ]
            row = df.agg(*exprs).first()
            return {k: (row[k] or 0) for k in row.asDict()}
        finally:
            self._close(s)

    # -- wrappers ------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def _frame_fn(self, name: str, stats=None, count_input: bool = False):
        """Wrapper for a function whose result is a DataFrame (or a tuple
        whose first item is one)."""

        def make(orig):
            def wrapped(*args, **kwargs):
                s = self._open(name)
                try:
                    res = orig(*args, **kwargs)
                    df, rest = (res[0], res[1:]) if isinstance(res, tuple) else (res, None)
                    df, n = force(df)
                finally:
                    self._close(s)
                s.counts["rows"] = n
                if count_input:
                    # after the span: any lazy input has run inside it by now
                    s.counts["rows_in"] = self._count(args[0])["rows"]
                if stats is not None:
                    s.counts.update(self._count(df, **stats()))
                return (df, *rest) if rest is not None else df

            return wrapped

        return make

    def _store_fn(self, name: str, force_result: bool = False):
        def make(orig):
            def wrapped(store, *args, **kwargs):
                before = None
                if name in ("store.write", "store.append"):
                    path = store.wave_path(args[0], args[1])
                    before = _dir_files(path)
                s = self._open(name)
                try:
                    res = orig(store, *args, **kwargs)
                    if force_result:
                        res, s.counts["rows"] = force(res)
                finally:
                    self._close(s)
                if before is not None:
                    after = _dir_files(path)
                    new = {k: v for k, v in after.items() if before.get(k) != v}
                    s.counts["files"] = len(new)
                    s.counts["bytes"] = sum(new.values())
                elif name == "store.read":
                    t = self._open("trace.count")
                    try:
                        s.counts["dirs"] = len({os.path.dirname(f) for f in res.inputFiles()})
                    finally:
                        self._close(t)
                return res

            return wrapped

        return make

    def install(self) -> None:
        """Wrap every crawl layer's public function as the engine module
        (and its function-local imports) reference it."""
        import goribot_spark.engine as E
        import goribot_spark.operators.fetch as fetch_mod

        ok_status = (F.col("status") >= 200) & (F.col("status") < 300)
        frame = self._frame_fn
        self._patch(E, "select_wave", frame("select_wave", count_input=True))
        self._patch(E, "salt_and_partition", frame("salt_and_partition"))
        self._patch(E, "with_parsed", frame(
            "with_parsed",
            lambda: {"parse_errors": F.sum(F.col("parse_error").isNotNull().cast("long"))},
        ))
        self._patch(E, "build_candidates", frame("build_candidates"))
        self._patch(E, "apply_rule_filters", frame("apply_rule_filters", count_input=True))
        self._patch(E, "apply_robots", frame("apply_robots", count_input=True))
        self._patch(E, "dedup_against_seen", frame("dedup_against_seen"))
        self._patch(E, "apply_max_req", frame("apply_max_req"))
        self._patch(E, "with_decoded", frame(
            "with_decoded",
            lambda: {
                "decode_errors": F.sum(F.col("decode_error").isNotNull().cast("long")),
                "bytes_in": F.sum(F.length("bytes")),
            },
        ))
        self._patch(fetch_mod, "live_fetch", frame(
            "live_fetch",
            lambda: {"ok": F.sum(F.coalesce(ok_status, F.lit(False)).cast("long"))},
        ))
        self._patch(fetch_mod, "live_fetch_robots", frame(
            "live_fetch_robots", lambda: {"hosts": F.countDistinct("host")},
        ))
        store = E.CrawlStore
        self._patch(store, "write", self._store_fn("store.write"))
        self._patch(store, "append", self._store_fn("store.append"))
        self._patch(store, "read", self._store_fn("store.read"))
        self._patch(store, "pending_frontier",
                    self._store_fn("store.pending_frontier", force_result=True))
        self._patch(store, "seen", self._store_fn("store.seen", force_result=True))
        self._patch(store, "commit_wave", self._store_fn("store.commit_wave"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- reduction -------------------------------------------------------------

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Wall time of [t0, t1] attributed per layer (``engine`` for time no
        span covers); the values sum to t1 - t0."""
        spans = [s for s in self.spans if s.end > t0 and s.start < t1]
        cuts = sorted({t0, t1, *(min(max(s.start, t0), t1) for s in spans),
                       *(min(max(s.end, t0), t1) for s in spans)})
        out: dict[str, float] = defaultdict(float)
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            open_ = [s for s in spans if s.start <= mid < s.end]
            parents = {s.parent for s in open_}
            leaves = [s for s in open_ if s.sid not in parents]
            if not leaves:
                out["engine"] += b - a
                continue
            for s in leaves:
                out[LAYER_OF[s.name]] += (b - a) / len(leaves)
        return dict(out)

    def layer_metrics(self, t0: float, t1: float, waves: int) -> dict[str, float]:
        by = defaultdict(list)
        for s in self.spans:
            if t0 <= s.start < t1:
                by[s.name].append(s)

        def dur(*names) -> float:
            return sum(s.end - s.start for n in names for s in by[n])

        def total(name: str, key: str) -> float:
            return float(sum(s.counts.get(key, 0) for s in by[name]))

        ids = {s.sid: s for s in self.spans}
        outer_reads = [
            s for n in _STORE_READS for s in by[n]
            if s.parent is None or ids[s.parent].name not in _STORE_READS
        ]
        requests = total("live_fetch", "rows")
        fetch_ok = total("live_fetch", "ok")
        robots = total("live_fetch_robots", "hosts")
        candidates = total("apply_rule_filters", "rows_in")
        admitted = total("apply_max_req", "rows")
        m = {
            "engine.waves": float(waves),
            "operators.politeness.select_s": dur("select_wave", "salt_and_partition"),
            "operators.politeness.scheduled": total("salt_and_partition", "rows"),
            "operators.politeness.deferred":
                total("select_wave", "rows_in") - total("select_wave", "rows"),
            "operators.fetch.fetch_s": dur("live_fetch", "live_fetch_robots"),
            "operators.fetch.requests": requests + robots,
            "operators.fetch.failed": requests - fetch_ok,
            "operators.fetch.ok_ratio": fetch_ok / requests if requests else 0.0,
            "operators.fetch.robots_fetches": robots,
            "operators.parse.parse_s": dur("with_parsed"),
            "operators.parse.pages": total("with_parsed", "rows"),
            "operators.parse.parse_errors": total("with_parsed", "parse_errors"),
            "operators.discover.candidates_s": dur("build_candidates"),
            "operators.discover.links_out": total("build_candidates", "rows"),
            "operators.admission.admit_s": dur(
                "apply_rule_filters", "apply_robots", "dedup_against_seen", "apply_max_req"
            ),
            "operators.admission.admitted": admitted,
            "operators.admission.yield": admitted / candidates if candidates else 0.0,
            "operators.admission.robots_dropped":
                total("apply_robots", "rows_in") - total("apply_robots", "rows"),
            "functions.imaging.decode_s": dur("with_decoded"),
            "functions.imaging.images": total("with_decoded", "rows"),
            "functions.imaging.decode_errors": total("with_decoded", "decode_errors"),
            "functions.imaging.bytes_in": total("with_decoded", "bytes_in"),
            "sources.store.write_s": dur("store.write", "store.append"),
            "sources.store.bytes_written":
                total("store.write", "bytes") + total("store.append", "bytes"),
            "sources.store.files_written":
                total("store.write", "files") + total("store.append", "files"),
            "sources.store.commit_s": dur("store.commit_wave"),
            "sources.store.read_s": sum(s.end - s.start for s in outer_reads),
            "sources.store.dirs_read": total("store.read", "dirs"),
        }
        selfs = self.self_times(t0, t1)
        for layer in ["engine", *CRAWL_LAYERS, "trace"]:
            m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
        return m
