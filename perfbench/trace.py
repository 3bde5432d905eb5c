"""In-memory span recorder and the wrappers that put spans around the
public entry points of each layer, installed from outside the library.

A span is (name, start, end, span id, parent id, request id, weight).
Spans stay in memory and are written out once, by ``Tracer.dump``.
Nothing here runs unless an ``install_*`` function is called, so
untraced runs pay nothing.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # request id of the op the calling thread is running
    @property
    def rid(self):
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value) -> None:
        self._local.rid = value

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def high(self, name: str, value: float) -> None:
        """Keep the largest value seen under ``name``."""
        with self._lock:
            self.counts[name] = max(self.counts.get(name, value), value)

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of one span around a no-op call, in seconds."""
        probe = Tracer()
        holder = type("Holder", (), {"noop": staticmethod(lambda: None)})
        probe.wrap(holder, "noop", "noop")
        bare = lambda: None  # noqa: E731
        t0 = time.perf_counter()
        for _ in range(n):
            bare()
        t1 = time.perf_counter()
        for _ in range(n):
            holder.noop()
        t2 = time.perf_counter()
        return max(0.0, (t2 - t1) - (t1 - t0)) / n

    def _open(self) -> tuple[int, int | None]:
        with self._lock:
            self._next += 1
            sid = self._next
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        stack.append(sid)
        return sid, parent

    def _close(self, name, t0, sid, parent, weight=None) -> None:
        t1 = time.perf_counter()
        self._local.stack.pop()
        self.spans.append((name, t0, t1, sid, parent, self.rid, weight))

    def wrap(self, owner, attr: str, name: str, weight=None,
             after=None) -> None:
        """Replace ``owner.attr`` with a spanned version. ``weight(args,
        kwargs)`` gives a number stored with the span (row groups read,
        rows rewritten); ``after(args, kwargs, result)`` runs after
        each call."""
        orig = getattr(owner, attr)
        raw = owner.__dict__.get(attr, orig) if isinstance(owner, type) \
            else orig
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            w = weight(args, kwargs) if weight is not None else None
            sid, parent = tracer._open()
            t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(name, t0, sid, parent, w)
            if after is not None:
                after(args, kwargs, out)
            return out

        if isinstance(raw, (staticmethod, classmethod)):
            spanned = type(raw)(spanned)
        setattr(owner, attr, spanned)
        self._undo.append((owner, attr, raw))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write the spans (one JSON list per line) and the counts."""
        with open(path, "w") as f:
            f.write(json.dumps({
                "pid": os.getpid(), "counts": self.counts,
                # perf_counter -> epoch seconds, to line spans up with
                # Spark's job times
                "epoch_offset": time.time() - time.perf_counter(),
                "span_cost_s": self.span_cost_s(),
                **(extra or {})}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install_kv(tracer: Tracer) -> None:
    """Spans around the store, manifest, footer cache, pyarrow and os
    entry points that the embedded and serving paths call."""
    import pyarrow.parquet as pq

    from quasdb_spark import manifest, store

    current = manifest.Manifest.current

    def rows_in(args, kwargs):  # rows the compaction reads
        return sum(f.rows for f in current(args[0].manifest).files)

    tracer.wrap(store.KVStore, "compact", "store.compact", weight=rows_in)
    for attr in ("get", "scan_rows", "write_batch", "maybe_compact",
                 "ingest", "state", "scan", "snapshot", "release_snapshot"):
        tracer.wrap(store.KVStore, attr, f"store.{attr}")
    tracer.wrap(manifest.Manifest, "current", "manifest.current",
                after=lambda a, k, v: tracer.high("store.live_dirs_max",
                                                  len(v.files)))
    tracer.wrap(manifest.Manifest, "commit", "manifest.commit")
    tracer.wrap(store._FooterCache, "open", "footer_cache.open")
    tracer.wrap(store._FooterCache, "list_dir", "footer_cache.list_dir")

    def groups(args, kwargs):
        return len(args[1] if len(args) > 1 else kwargs["row_groups"])

    def file_bytes(args, kwargs, out):
        tracer.count("parquet.bytes_written", os.path.getsize(args[1]))

    tracer.wrap(pq, "read_metadata", "parquet.read_metadata")
    tracer.wrap(pq.ParquetFile, "read_row_groups", "parquet.read_row_groups",
                weight=groups)
    tracer.wrap(pq, "read_table", "parquet.read_table")
    tracer.wrap(pq, "write_table", "parquet.write_table", after=file_bytes)
    for attr in ("fsync", "rename", "replace"):
        tracer.wrap(os, attr, f"fs.{attr}")


def install_server(tracer: Tracer) -> None:
    from quasdb_spark import httpparse, server

    tracer.wrap(server, "handle_request", "server.handle_request")
    tracer.wrap(httpparse.RequestParser, "feed", "httpparse.feed")


def install_spark(tracer: Tracer) -> None:
    """Spans around the operator, plan and time-series entry points the
    suite queries call (their wall time in the driver: plan building
    plus any job they run eagerly)."""
    from quasdb_spark import store, suite, tsstore
    from quasdb_spark.operators import dedup, kvlog, quantizer, similarity
    from quasdb_spark.operators import timeseries
    from quasdb_spark.plans import lww, materialize

    targets = [
        (dedup, "near_dup_pairs", "dedup.near_dup_pairs"),
        (dedup, "cluster_assign_cc", "dedup.cluster_assign_cc"),
        (materialize, "materialize", "materialize"),
        (similarity, "ivf_topk", "similarity.ivf_topk"),
        (similarity, "ivfpq_topk", "similarity.ivfpq_topk"),
        (similarity, "semantic_dedup", "similarity.semantic_dedup"),
        (similarity, "hard_negatives", "similarity.hard_negatives"),
        (quantizer, "get_or_train", "quantizer.get_or_train"),
        (quantizer, "get_or_train_pq", "quantizer.get_or_train_pq"),
        (tsstore.TSStore, "ingest_df", "tsstore.ingest_df"),
        (tsstore.TSStore, "points", "tsstore.points"),
        (tsstore.TSStore, "downsample", "tsstore.downsample"),
    ]
    for fn in ("tumbling", "sliding", "asof_join", "session_stats",
               "downsample_last", "gapfill", "trailing_range_agg"):
        targets.append((timeseries, fn, f"timeseries.{fn}"))
    # modules that imported the LWW view by name hold their own binding
    for mod in (lww, suite, kvlog, store):
        for fn in ("state_view", "state_view_window"):
            targets.append((mod, fn, "lww.state_view"))
    for owner, attr, name in targets:
        if hasattr(owner, attr):
            tracer.wrap(owner, attr, name)
