"""Spans and counters for the traced run.

The tracer wraps the public functions of each layer from the outside
(module attributes and the session's ``spark.sql``), so the program
itself is unchanged.  Spans are kept in memory (name, start, end,
parent span, query id) and written to a JSON file when the run ends;
counts are taken at the same boundaries.  A layer's self time is its
span time minus the part its child spans cover.

Wrappers are installed once and do nothing while ``enabled`` is false,
so the traced run can time an untraced half and a traced half in the
same session and report the difference as ``trace.overhead_frac``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.qid: int | None = None
        self.rpcs = 0
        self.counts: Counter = Counter()
        self.samples: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "qid": self.qid}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def take_counts(self) -> Counter:
        """Hand over and clear the counts and samples taken so far."""
        counts = self.counts
        self.counts, self.samples = Counter(), defaultdict(list)
        return counts

    def self_times(self) -> dict[str, float]:
        """Per span name: total span time minus time covered by its
        direct children (children never outlive their parent here, as
        the benchmark is single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Counter = Counter()
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [dict(s, start=s["start"] - t0,
                      end=None if s["end"] is None else s["end"] - t0)
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_time_s": self.self_times(),
                       "counts": dict(self.counts), **extra}, f)

    # -- wrappers --------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned version that records
        its own duration and py4j commands into ``samples``;
        ``after(result, args, kwargs)`` may add counts."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            r0, t0 = tracer.rpcs, time.perf_counter()
            with tracer.span(name):
                out = fn(*args, **kwargs)
            tracer.samples[name + ".s"].append(time.perf_counter() - t0)
            tracer.samples[name + ".rpcs"].append(tracer.rpcs - r0)
            if after is not None:
                after(out, args, kwargs)
            return out

        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        from sedona_db_spark.operators import dedup, knn_join, result_cache
        from sedona_db_spark.operators import spatial_join as sj
        from sedona_db_spark.plans import sql_rewrite as rw
        from sedona_db_spark.sources import geoparquet as gp

        tracer = self
        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command

            def make(orig):
                def send_command(conn, *a, **kw):
                    tracer.rpcs += 1
                    return orig(conn, *a, **kw)
                return send_command
            cls.send_command = make(orig)

        def matched(name):
            def after(out, args, kwargs):
                self.counts[name + ".calls"] += 1
                self.counts[name + ".matches"] += out is not None
            return after

        for fn in ("try_rewrite", "rewrite_certified_scalar",
                   "peephole_scalar"):
            self.wrap(rw, fn, "plans." + fn, matched("plans." + fn))

        # the front door: calls, busy time and rewrite-memo hits (a call
        # the prechecks admit that never reaches peephole_scalar was
        # answered from the memo)
        front = spark.sql
        pre = (rw._PRECHECK, rw._PEEP_PRECHECK, rw._CERT_PRECHECK)

        @functools.wraps(front)
        def sql(query, *args, **kwargs):
            if not tracer.enabled:
                return front(query, *args, **kwargs)
            eligible = isinstance(query, str) and not (args or kwargs) \
                and any(p.search(query) for p in pre)
            before = tracer.counts["plans.peephole_scalar.calls"]
            t0 = time.perf_counter()
            with tracer.span("plans.sql"):
                out = front(query, *args, **kwargs)
            tracer.counts["plans.sql.calls"] += 1
            tracer.counts["plans.sql.busy_s"] += time.perf_counter() - t0
            if eligible:
                tracer.counts["plans.rewrite_memo.lookups"] += 1
                tracer.counts["plans.rewrite_memo.hits"] += \
                    tracer.counts["plans.peephole_scalar.calls"] == before
            return out

        spark.sql = sql

        for mod, fns in ((sj, ("spatial_join", "spatial_join_bucketed",
                               "write_bucketed_layout")),
                         (knn_join, ("knn_join", "knn_join_partitioned")),
                         (dedup, ("minhash_candidate_pairs",))):
            for fn in fns:
                self.wrap(mod, fn, "operators." + fn)

        def memo_after(out, args, kwargs):
            self.counts["operators.spatial_join.stats_memo.lookups"] += 1
            self.counts["operators.spatial_join.stats_memo.hits"] += \
                out is not None
        self.wrap(sj, "_stats_memo_get", "operators.stats_memo_get",
                  memo_after)

        pool_persist = result_cache.BoundedPersistPool.persist

        @functools.wraps(pool_persist)
        def persist(pool, df):
            if not tracer.enabled:
                return pool_persist(pool, df)
            keys = set(pool._frames)
            with tracer.span("operators.result_cache.persist"):
                out = pool_persist(pool, df)
            tracer.counts["operators.result_cache.lookups"] += 1
            # a hit re-enrolls an existing slot; a miss adds a key
            tracer.counts["operators.result_cache.hits"] += \
                set(pool._frames) == keys
            return out

        result_cache.BoundedPersistPool.persist = persist

        def write_after(out, args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            self.counts["sources.write_bytes"] += dir_bytes(path)

        def read_after(out, args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            self.counts["sources.files_present"] += len(parquet_files(path))
            self.counts["sources.files_read"] += len(out[0].inputFiles())

        self.wrap(gp, "write_geoparquet", "sources.write_geoparquet",
                  write_after)
        self.wrap(gp, "read_geoparquet", "sources.read_geoparquet",
                  read_after)


def parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))
