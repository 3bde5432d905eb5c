"""The two Spark workloads: ``ts_analytics`` (one analyst session over
the store and the time-series queries) and ``curation`` (dedup,
similarity and text queries). Each suite query runs under its own Spark
job group so the traced run can read its jobs and stages back."""

from __future__ import annotations

import os
import statistics
import time

from perfbench import gen

TS_QUERIES = ["kv_state_latest", "kv_state_asof", "ts_tumbling_hourly",
              "ts_sliding_1h_15m", "ts_asof_join", "ts_sessionize",
              "ts_downsample_10m_last", "ts_gapfill_hourly",
              "ts_trailing_1h_sum"]
CURATION_QUERIES = ["dedup_minhash_pairs", "dedup_clusters_cc",
                    "emb_semdedup", "emb_hard_negatives", "sim_ivf_topk",
                    "sim_ivfpq_topk", "text_bm25_search", "text_bigram_topk"]


def start_spark(run):
    """A ``local[nproc]`` session whose scratch, temp and warehouse dirs
    sit in the run's private dir; stopped, with its JVM, by
    ``run.stop_spark()`` or at exit."""
    from pyspark import SparkContext

    from quasdb_spark.session import get_spark

    n = str(run.cpus)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{n}]", extra_conf={
        "spark.sql.shuffle.partitions": n,
        "spark.driver.memory": "1g",
        "spark.local.dir": run.path("spark-local"),
        # a heap fixed at its maximum: one grown on demand reached a
        # different size in each run, and peak_rss_mb spread by 15-20 %
        "spark.driver.extraJavaOptions":
            f"-Xms1g -Djava.io.tmpdir={run.path('tmp')}",
        "spark.sql.warehouse.dir": run.path("warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    run.session_s = time.perf_counter() - t0
    run.setup_s += run.session_s
    run.rss_pids["jvm"] = spark._jvm.ProcessHandle.current().pid()
    gateway = SparkContext._gateway

    def stop():
        if run.stop_spark is None:
            return
        run.stop_spark = None
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)

    run.stop_spark = stop
    run.cleanups.append(stop)
    return spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ Spark stats
class JobStats:
    """Per-job-group stage metrics read back from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.groups: list[dict] = []

    def run(self, name: str, fn):
        """Run ``fn`` under a fresh job group named after ``name``;
        returns its result."""
        group = f"{name}#{len(self.groups)}"
        self.sc.setJobGroup(group, name, False)
        t0 = time.time()
        try:
            return fn()
        finally:
            self.sc.setJobGroup("perfbench-idle", "", False)
            self.groups.append({"group": group, "t0": t0, "t1": time.time()})

    def collect(self) -> list[dict]:
        """Stage totals per recorded group (called once, at the end)."""
        out = []
        for g in self.groups:
            row = {"group": g["group"], "wall_s": g["t1"] - g["t0"],
                   "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
                   "cpu_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
                   "spill": 0, "input": 0, "busy_s": 0.0, "job_times": []}
            spans = []
            seen = set()
            for jid in self.sc.statusTracker().getJobIdsForGroup(g["group"]):
                row["jobs"] += 1
                job = self.store.job(jid)
                if job.submissionTime().isDefined():
                    row["job_times"].append(
                        job.submissionTime().get().getTime() / 1e3)
                it = job.stageIds().iterator()
                while it.hasNext():
                    sid = it.next()
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = self.store.lastStageAttempt(sid)
                    except Exception:  # py4j: never-run (skipped) stage
                        continue
                    if str(st.status()) in ("SKIPPED", "PENDING"):
                        continue
                    row["stages"] += 1
                    row["tasks"] += st.numTasks()
                    row["run_s"] += st.executorRunTime() / 1e3
                    row["cpu_s"] += st.executorCpuTime() / 1e9
                    row["shuffle_read"] += (st.shuffleRemoteBytesRead()
                                            + st.shuffleLocalBytesRead())
                    row["shuffle_write"] += st.shuffleWriteBytes()
                    row["spill"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
                    row["input"] += st.inputBytes()
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        spans.append((sub.get().getTime() / 1e3,
                                      done.get().getTime() / 1e3))
            row["busy_s"] = _union(spans, g["t0"], g["t1"])
            out.append(row)
        return out


def _union(spans, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


# ------------------------------------------------------------ correctness
def _normalised(cols, rows) -> tuple[list, list]:
    """Columns in name order and rows sorted, cells normalised like the
    repo's oracle checker (tools/check_oracle.py) except that floats
    stay numbers."""
    import check_oracle

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(v if isinstance(v, float) and v == v
                 else check_oracle.norm_cell(v) for v in (r[i] for i in order))
           for r in rows]
    out.sort(key=lambda r: ([c for c in r if isinstance(c, str)],
                            [c for c in r if isinstance(c, float)]))
    return [cols[i] for i in order], out


def _same_result(a, b) -> bool:
    """Equal results, floats to within one unit of the 4th decimal: the
    suite rounds scores to 4 decimals, and Spark and DuckDB round an
    exact half-way value differently (text_bm25_search scores a
    2.85355 as 2.8536 on Spark and 2.8535 on DuckDB on seed 104)."""
    import math

    def same(x, y):
        if isinstance(x, float) and isinstance(y, float):
            return math.isclose(x, y, rel_tol=1e-9, abs_tol=1.0001e-4)
        return x == y

    (ca, ra), (cb, rb) = a, b
    return ca == cb and len(ra) == len(rb) and all(
        len(x) == len(y) and all(map(same, x, y)) for x, y in zip(ra, rb))


def _fold_path(q: str):
    """The expression-fold twin of a query whose DuckDB oracle takes
    tens of seconds per run: the same call with ``vectorized=False``,
    which the suite keeps as the bit-identical cross-check of the
    vectorized scorer. None for every other query."""
    from pyspark.sql import functions as F

    from quasdb_spark.operators import similarity as SIM
    from quasdb_spark.sources.tables import load_table

    def semdedup(spark, d):
        e = load_table(spark, d, "embeddings")
        return (SIM.semantic_dedup(e, threshold=0.40, n_bands=8,
                                   band_bits=8, max_bucket_size=1000,
                                   n_iter=3, vectorized=False)
                .where(F.col("n_members") >= 2))

    def hard_negatives(spark, d):
        e = load_table(spark, d, "embeddings")
        return SIM.hard_negatives(e, 3, n_bands=8, band_bits=8,
                                  max_bucket_size=1000, vectorized=False)

    return {"emb_semdedup": semdedup,
            "emb_hard_negatives": hard_negatives}.get(q)


def _oracle_check(run, spark, data_dir: str, names: list[str],
                  stats: JobStats) -> None:
    """Run each query once, untimed, and compare its result with the
    DuckDB oracle over the same generated inputs (or, outside smoke
    runs, with its fold-path twin where the oracle is that slow)."""
    import sys

    import duckdb

    from quasdb_spark import suite

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS FROM "
                    f"'{os.path.join(data_dir, f)}'")

    def spark_result(name, build):
        df = stats.run(name, lambda: build(spark, data_dir))
        rows = stats.run(name, lambda: [tuple(r) for r in df.collect()])
        return _normalised(df.columns, rows)

    for q in names:
        got = spark_result(f"check:{q}", suite.QUERIES[q])
        twin = None if run.smoke else _fold_path(q)
        if twin is not None:
            want = spark_result(f"check:{q}:fold", twin)
        else:
            rel = con.sql(suite.ORACLES[q])
            want = _normalised(rel.columns, rel.fetchall())
        run.check(_same_result(got, want), f"{q} differs from its oracle")
    con.close()


def _time_query(run, spark, stats: JobStats, q: str, data_dir: str,
                builds: dict, actions: dict) -> None:
    from quasdb_spark import suite

    t0 = time.perf_counter()
    df = stats.run(q, lambda: suite.QUERIES[q](spark, data_dir))
    t1 = time.perf_counter()
    stats.run(q, lambda: _force(df))
    t2 = time.perf_counter()
    run.record(q, (t2 - t0) * 1e3)
    builds.setdefault(q, []).append(t1 - t0)
    actions.setdefault(q, []).append(t2 - t1)


def _query_loop(run, spark, stats, data_dir, names, per_pass=None) -> None:
    """Closed loop of passes over ``names`` until the window closes
    (at least one pass). ``per_pass(p)`` runs first in each pass."""
    from perfbench.kv import cpu_s

    builds: dict = {}
    actions: dict = {}
    cached = 0.0
    cpu0 = cpu_s()
    t_start = time.perf_counter()
    p = 0
    while p == 0 or time.perf_counter() - t_start < run.seconds:
        if per_pass is not None:
            per_pass(p)
        for q in names:
            _time_query(run, spark, stats, q, data_dir, builds, actions)
            if run.tracer is not None:
                cached = max(cached, _cached_mb(spark))
        p += 1
    run.loop_s = time.perf_counter() - t_start
    run.rate = run.ops_per_s(t_start)
    run.sample_rss()
    run.context.update(passes=p, cached_mb_max=cached,
                       build_s=builds, action_s=actions,
                       loadgen_cpu_s=cpu_s() - cpu0)
    run.detail["passes"] = p
    run.detail["query_p50_ms"] = {k: statistics.median(v)
                                  for k, v in run.lat.items()}
    if run.tracer is not None:
        run.context["spark_groups"] = stats.collect()


# =========================================================== ts_analytics
def _oplog(ev):
    return ev.selectExpr(
        "concat('u', lpad(cast(user_id as string), 6, '0')) as key",
        "cast(event_id as long) as sub",
        "case when event_type = 'error' then 'del' else 'put' end as op",
        "cast(value as string) as value")


def _collect_state(st, asof=None) -> list:
    return sorted(tuple(r) for r in st.state(asof).collect())


def ts_analytics(run) -> None:
    from pyspark.sql import functions as F

    from quasdb_spark.sources.tables import load_table
    from quasdb_spark.store import KVStore
    from quasdb_spark.tsstore import TSStore

    spark = start_spark(run)

    def build(d):
        gen.write_events(run.seed, d, n=2_000 if run.smoke else 10_000,
                         n_users=150)
        ev = load_table(spark, d, "events")
        return d, ev, ev.count()

    data_dir, ev, n_rows = run.timed_setup(build)
    stats = JobStats(spark)

    # the second, seeded batch: a tenth of the users rewritten, some
    # deleted
    upd = _oplog(ev.where(F.col("user_id") % 10 == run.seed % 10)) \
        .withColumn("op", F.when(F.col("sub") % 7 == 0, F.lit("del"))
                    .otherwise(F.col("op"))) \
        .withColumn("value", F.concat(F.col("value"), F.lit("-v2")))
    series = ev.selectExpr("concat('user', cast(user_id as string)) "
                           "as series_id", "ts", "value")
    t_lo, t_hi = gen.TS0, gen.TS0.replace(day=3)
    ingest_rates, compact_s, space_amp = [], [], [0.0]

    def step(kind, fn):
        t0 = time.perf_counter()
        out = stats.run(kind, fn)
        run.record(kind, (time.perf_counter() - t0) * 1e3)
        return out

    def session(p: int, check: bool = False) -> None:
        st = KVStore.create(spark, run.path(f"kv{p}"))
        ts = TSStore.create(spark, run.path(f"ts{p}"))
        t0 = time.perf_counter()
        step("store.ingest", lambda: st.ingest(_oplog(ev), op_col="op",
                                               sub_col="sub"))
        ingest_rates.append(n_rows / (time.perf_counter() - t0))
        step("tsstore.ingest_df", lambda: ts.ingest_df(series))
        snap = st.snapshot("pass")
        before_upd = _collect_state(st) if check else None
        step("store.state", lambda: _force(st.state()))
        step("store.scan", lambda: _force(st.scan("u000020", "u000080")))
        step("tsstore.points", lambda: _force(ts.points(
            "user7", t0=t_lo, t1=t_hi)))
        step("tsstore.downsample", lambda: _force(ts.downsample("1 hour")))
        step("store.update", lambda: st.ingest(upd, op_col="op",
                                               sub_col="sub"))
        step("store.state_asof", lambda: _force(st.state(asof=snap)))
        before = _collect_state(st) if check else None
        t0 = time.perf_counter()
        step("store.compact", lambda: st.compact())
        compact_s.append(time.perf_counter() - t0)
        step("store.state_compacted", lambda: _force(st.state()))
        if check:
            run.check(_collect_state(st) == before,
                      "state() changed across compact()")
            run.check(_collect_state(st, snap) == before_upd,
                      "state(asof=snapshot) changed")
            live = st.state().selectExpr(
                "sum(length(key) + length(value))").first()[0]
            space_amp[0] = sum(f.bytes for f in
                               st.manifest.current().files) / live

    # untimed pass: correctness, and it warms the JVM for the loop
    session(-1, check=True)
    _oracle_check(run, spark, data_dir, TS_QUERIES, stats)
    run.lat.clear()
    stats.groups.clear()
    if run.tracer is not None:
        from perfbench.trace import install_kv, install_spark
        install_kv(run.tracer)
        install_spark(run.tracer)
    _query_loop(run, spark, stats, data_dir, TS_QUERIES, per_pass=session)
    run.detail.update(ingest_rows_per_s=statistics.median(ingest_rates),
                      compact_s=statistics.median(compact_s),
                      space_amp=space_amp[0])


# =============================================================== curation
def curation(run) -> None:
    from quasdb_spark import suite

    spark = start_spark(run)
    n_docs, n_vecs = (100, 60) if run.smoke else (500, 500)

    def build(d):
        gen.write_documents(run.seed, d, n_docs)
        gen.write_embeddings(run.seed, d, n_vecs)
        suite._ivf_lists(spark, d)    # coarse quantizer + lists
        suite._pq_artifacts(spark, d)  # PQ codebooks + codes
        return d

    data_dir = run.timed_setup(build)
    stats = JobStats(spark)
    _oracle_check(run, spark, data_dir, CURATION_QUERIES, stats)
    stats.groups.clear()
    if run.tracer is not None:
        from perfbench.trace import install_spark
        install_spark(run.tracer)
    _query_loop(run, spark, stats, data_dir, CURATION_QUERIES)
