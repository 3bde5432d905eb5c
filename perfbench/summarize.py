"""Trace summariser: turns a traced run's span files into the named
per-layer metrics.

    python3 perfbench/summarize.py <trace-dir>

A traced run (``run.py --trace 1 --trace-out <dir>``) leaves one span
file per process in ``<dir>``: ``spans-driver.jsonl`` and, on kv_http,
``server-<n>.jsonl``. Each starts with a header line (counts, context)
followed by one span per line. Prints every metric by name with its
unit and base, then each span name's self time (its duration minus the
part its child spans cover).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

OPS = ("store.get", "store.scan_rows", "store.write_batch")

UNITS = {
    "session.start_s": "s",
    "loadgen.cpu_frac": "ratio",
    "store.get.ms_p50": "ms",
    "store.scan_rows.ms_p50": "ms",
    "store.write_batch.ms_p50": "ms",
    "store.dirs_per_get": "count",
    "store.live_dirs_max": "count",
    "store.compactions_per_1k_writes": "count",
    "store.compact.ms_p50": "ms",
    "store.write_amp": "ratio",
    "store.ingest.s": "s",
    "tsstore.ingest_df.s": "s",
    "store.compact.s": "s",
    "store.compact.rows_rewritten": "count",
    "footer_cache.hit_ratio": "ratio",
    "footer_cache.misses_per_op": "count",
    "parquet.footers_per_get": "count",
    "parquet.row_groups_per_get": "count",
    "parquet.row_groups_per_scan": "count",
    "parquet.read_ms_per_op": "ms",
    "parquet.write_ms_per_write": "ms",
    "manifest.current.calls_per_op": "count",
    "manifest.current.ms_p50": "ms",
    "manifest.version_kb": "KB",
    "manifest.commit.ms_p50": "ms",
    "manifest.commit.attempts_per_write": "count",
    "fs.fsync_per_write": "count",
    "fs.rename_per_write": "count",
    "server.handle_request.ms_p50": "ms",
    "server.overhead_ms_p50": "ms",
    "server.cpu_s_per_1k_req": "s",
    "server.request_skew": "ratio",
    "httpparse.feed_us_p50": "us",
    "suite.build_s": "s",
    "suite.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.idle_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.cached_mb_max": "MB",
    "dedup.cluster_assign_cc.s": "s",
    "dedup.cluster_assign_cc.jobs": "count",
    "dedup.near_dup_pairs.s": "s",
    "materialize.calls": "count",
    "materialize.s": "s",
    "similarity.ivf_topk.s": "s",
    "similarity.ivfpq_topk.s": "s",
    "similarity.semantic_dedup.s": "s",
    "similarity.hard_negatives.s": "s",
    "quantizer.get_or_train.s": "s",
    "lww.state_view.s": "s",
    "timeseries.s": "s",
    "trace.spans_per_op": "count",
    "trace.overhead_frac": "ratio",
}


class _Proc:
    """The spans of one process, indexed for ancestry queries."""

    def __init__(self, path: str):
        with open(path) as f:
            self.head = json.loads(f.readline())
            self.spans = [json.loads(line) for line in f]
        self.by_id = {s[3]: s for s in self.spans}
        self._op: dict[int, str | None] = {}

    def op_of(self, span) -> str | None:
        """Name of the nearest enclosing store op (get/scan/write)."""
        sid, chain = span[4], []
        found = None
        while sid is not None:
            if sid in self._op:
                found = self._op[sid]
                break
            chain.append(sid)
            parent = self.by_id.get(sid)
            if parent is None:
                break
            if parent[0] in OPS:
                found = parent[0]
                break
            sid = parent[4]
        for c in chain:
            self._op[c] = found
        return found


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def self_times(procs: list[_Proc]) -> dict[str, float]:
    """Seconds per span name, minus the time covered by child spans."""
    child: dict[tuple, list] = {}
    for i, p in enumerate(procs):
        for s in p.spans:
            if s[4] is not None:
                child.setdefault((i, s[4]), []).append((s[1], s[2]))
    out: dict[str, float] = {}
    for i, p in enumerate(procs):
        for s in p.spans:
            covered, end = 0.0, s[1]
            for a, b in sorted(child.get((i, s[3]), ())):
                a, b = max(a, end), min(b, s[2])
                if b > a:
                    covered += b - a
                    end = b
            out[s[0]] = out.get(s[0], 0.0) + (s[2] - s[1]) - covered
    return out


def summarize(trace_dir: str) -> dict[str, float]:
    driver = _Proc(os.path.join(trace_dir, "spans-driver.jsonl"))
    servers = [_Proc(p) for p in
               sorted(glob.glob(os.path.join(trace_dir, "server-*.jsonl")))]
    procs = [driver] + servers
    ctx = driver.head["context"]
    spans = [(p, s) for p in procs for s in p.spans]

    def durs(name: str) -> list[float]:
        return [s[2] - s[1] for _, s in spans if s[0] == name]

    def under(name: str, op: str) -> list:
        return [s for p, s in spans if s[0] == name and p.op_of(s) == op]

    def total(prefix: str) -> float:
        return sum(s[2] - s[1] for _, s in spans if s[0].startswith(prefix))

    counts: dict[str, float] = {}
    for p in procs:
        for k, v in p.head["counts"].items():
            counts[k] = max(counts.get(k, 0), v) if k.endswith("_max") \
                else counts.get(k, 0) + v
    client = ctx.get("client_ms", {})
    n_ops = sum(len(v) for v in client.values())
    passes = ctx.get("passes", 1)
    n_get = len(durs("store.get"))
    n_scan = len(durs("store.scan_rows"))
    n_write = len(durs("store.write_batch"))
    n_store_ops = n_get + n_scan + n_write
    srv = [p.head["server"] for p in servers]
    hits = ctx.get("footer_hits", 0) + sum(s["footer_hits"] for s in srv)
    misses = ctx.get("footer_misses", 0) + sum(s["footer_misses"]
                                               for s in srv)
    reqs = [s["requests"] for s in srv]
    handle = durs("server.handle_request")
    all_client = [x for v in client.values() for x in v]
    groups = ctx.get("spark_groups", [])
    compact_spans = [s for _, s in spans if s[0] == "store.compact"]
    cc_spans = [(p, s) for p, s in spans
                if s[0] == "dedup.cluster_assign_cc"]
    job_times = [t for g in groups for t in g.get("job_times", ())]

    def cc_jobs() -> int:
        n = 0
        for p, s in cc_spans:
            off = p.head["epoch_offset"]
            n += sum(1 for t in job_times
                     if s[1] + off <= t <= s[2] + off)
        return n

    def spark(key: str, scale: float = 1.0) -> float:
        return sum(g[key] for g in groups) * scale / passes

    def reads(op: str) -> float:
        return sum(s[2] - s[1] for name in ("parquet.read_metadata",
                                            "parquet.read_row_groups",
                                            "parquet.read_table")
                   for s in under(name, op))

    def builds(key: str) -> float:
        return sum(_p50(v) for v in ctx.get(key, {}).values())

    n_spans = sum(len(p.spans) for p in procs)
    span_cost = max(p.head["span_cost_s"] for p in procs)
    mb = 1.0 / 2**20
    m = {
        "session.start_s": ctx.get("session_s", 0.0),
        "loadgen.cpu_frac": _ratio(ctx.get("loadgen_cpu_s", 0.0),
                                   ctx["loop_s"]),
        "store.get.ms_p50": _p50(durs("store.get")) * 1e3,
        "store.scan_rows.ms_p50": _p50(durs("store.scan_rows")) * 1e3,
        "store.write_batch.ms_p50": _p50(durs("store.write_batch")) * 1e3,
        "store.dirs_per_get": _ratio(
            len(under("footer_cache.list_dir", "store.get")), n_get),
        "store.live_dirs_max": counts.get("store.live_dirs_max", 0),
        "store.compactions_per_1k_writes": _ratio(
            len(under("store.compact", "store.write_batch")) * 1000, n_write),
        "store.compact.ms_p50": _p50(durs("store.compact")) * 1e3,
        "store.write_amp": _ratio(counts.get("parquet.bytes_written", 0),
                                  ctx.get("user_bytes", 0)),
        "store.ingest.s": _p50(durs("store.ingest")),
        "tsstore.ingest_df.s": _p50(durs("tsstore.ingest_df")),
        "store.compact.s": sum(durs("store.compact")) / passes,
        "store.compact.rows_rewritten": sum(s[6] or 0
                                            for s in compact_spans) / passes,
        "footer_cache.hit_ratio": _ratio(hits, hits + misses),
        "footer_cache.misses_per_op": _ratio(misses, n_ops),
        "parquet.footers_per_get": _ratio(
            len(under("parquet.read_metadata", "store.get")), n_get),
        "parquet.row_groups_per_get": _ratio(
            sum(s[6] for s in under("parquet.read_row_groups", "store.get")),
            n_get),
        "parquet.row_groups_per_scan": _ratio(
            sum(s[6] for s in under("parquet.read_row_groups",
                                    "store.scan_rows")), n_scan),
        "parquet.read_ms_per_op": _ratio(
            sum(reads(op) for op in OPS) * 1e3, n_store_ops),
        "parquet.write_ms_per_write": _ratio(
            sum(s[2] - s[1] for s in under("parquet.write_table",
                                           "store.write_batch")) * 1e3,
            n_write),
        "manifest.current.calls_per_op": _ratio(
            sum(len(under("manifest.current", op)) for op in OPS),
            n_store_ops),
        "manifest.current.ms_p50": _p50(durs("manifest.current")) * 1e3,
        "manifest.version_kb": ctx.get("version_kb", 0.0),
        "manifest.commit.ms_p50": _p50(durs("manifest.commit")) * 1e3,
        "manifest.commit.attempts_per_write": _ratio(
            len(under("manifest.commit", "store.write_batch")), n_write),
        "fs.fsync_per_write": _ratio(
            len(under("fs.fsync", "store.write_batch")), n_write),
        "fs.rename_per_write": _ratio(
            len(under("fs.rename", "store.write_batch"))
            + len(under("fs.replace", "store.write_batch")), n_write),
        "server.handle_request.ms_p50": _p50(handle) * 1e3,
        "server.overhead_ms_p50": (_p50(all_client) - _p50(handle) * 1e3
                                   if handle else 0.0),
        "server.cpu_s_per_1k_req": _ratio(sum(s["cpu_s"] for s in srv) * 1e3,
                                          sum(reqs)),
        "server.request_skew": _ratio(max(reqs), min(reqs)) if reqs else 0.0,
        "httpparse.feed_us_p50": _p50(durs("httpparse.feed")) * 1e6,
        "suite.build_s": builds("build_s"),
        "suite.action_s": builds("action_s"),
        "spark.jobs": spark("jobs"),
        "spark.stages": spark("stages"),
        "spark.tasks": spark("tasks"),
        "spark.exec_run_s": spark("run_s"),
        "spark.exec_cpu_s": spark("cpu_s"),
        "spark.idle_s": sum(g["wall_s"] - g["busy_s"] for g in groups)
        / passes,
        "spark.shuffle_read_mb": spark("shuffle_read", mb),
        "spark.shuffle_write_mb": spark("shuffle_write", mb),
        "spark.spill_mb": spark("spill", mb),
        "spark.input_mb": spark("input", mb),
        "spark.cached_mb_max": ctx.get("cached_mb_max", 0.0),
        "dedup.cluster_assign_cc.s": total("dedup.cluster_assign_cc")
        / passes,
        "dedup.cluster_assign_cc.jobs": cc_jobs() / passes,
        "dedup.near_dup_pairs.s": total("dedup.near_dup_pairs") / passes,
        "materialize.calls": len(durs("materialize")) / passes,
        "materialize.s": total("materialize") / passes,
        "similarity.ivf_topk.s": total("similarity.ivf_topk") / passes,
        "similarity.ivfpq_topk.s": total("similarity.ivfpq_topk") / passes,
        "similarity.semantic_dedup.s": total("similarity.semantic_dedup")
        / passes,
        "similarity.hard_negatives.s": total("similarity.hard_negatives")
        / passes,
        "quantizer.get_or_train.s": total("quantizer.get_or_train") / passes,
        "lww.state_view.s": total("lww.state_view") / passes,
        "timeseries.s": total("timeseries.") / passes,
        "trace.spans_per_op": _ratio(n_spans, n_ops),
        "trace.overhead_frac": _ratio(n_spans * span_cost, ctx["loop_s"]),
    }
    return m


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    m = summarize(argv[0])
    for name, value in m.items():
        print(f"{name:40s} {value:14.4f} {UNITS[name]}")
    procs = [_Proc(p) for p in
             sorted(glob.glob(os.path.join(argv[0], "*.jsonl")))]
    print("\nself time by span name (s):")
    for name, s in sorted(self_times(procs).items(), key=lambda x: -x[1]):
        print(f"  {name:40s} {s:10.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
