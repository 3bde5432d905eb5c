"""The two key-value workloads: ``kv_oltp`` drives the embedded store
handle from one client thread; ``kv_http`` drives a read-only
time-series store through HTTP serving processes."""

from __future__ import annotations

import bisect
import functools
import http.client
import itertools
import json
import os
import resource
import socket
import subprocess
import sys
import threading
import time
import urllib.parse

from perfbench import gen

PAGE = 50          # rows per bounded scan page
SNAP_EVERY = 300   # ops between snapshot re-takes (kv_oltp)


def space_amp(store, live_bytes: int) -> float:
    """Bytes referenced by the live manifest over live key+value bytes."""
    return sum(f.bytes for f in store.manifest.current().files) / live_bytes


def version_kb(store) -> float:
    """Size of the live manifest version file."""
    mdir = store.manifest.dir
    with open(os.path.join(mdir, "CURRENT")) as f:
        return os.path.getsize(os.path.join(mdir, f.read().strip())) / 1024


def cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def defer_replaced_frees(run, root: str) -> None:
    """Until the run ends, hard-link every file that ``os.rename`` or
    ``os.replace`` is about to replace under ``root`` into a run-private
    dir, so the replaced file's blocks are freed with the run dir at
    exit rather than inside the call. The call itself is unchanged.

    Freeing an allocated block is synchronous on an ext4 ``discard``
    mount and costs 40-70 ms there, drifting with the host's disk; the
    manifest's ``CURRENT`` swap frees one per commit, so without this
    the write path measures the disk (tmpfs frees at memory speed)."""
    keep = run.path("replaced")
    os.makedirs(keep)
    root = os.path.abspath(root) + os.sep
    real = {name: getattr(os, name) for name in ("rename", "replace")}
    serial = itertools.count()

    def keeping(fn):
        @functools.wraps(fn)
        def call(src, dst, *args, **kwargs):
            if (not args and not kwargs and isinstance(dst, str)
                    and os.path.abspath(dst).startswith(root)
                    and os.path.isfile(dst)):
                try:
                    os.link(dst, os.path.join(keep, str(next(serial))))
                except FileNotFoundError:
                    pass  # already gone: nothing to free
            return fn(src, dst, *args, **kwargs)
        return call

    for name, fn in real.items():
        setattr(os, name, keeping(fn))

    def restore():
        for name, fn in real.items():
            setattr(os, name, fn)

    run.cleanups.append(restore)


# ================================================================ kv_oltp
def kv_oltp(run) -> None:
    from quasdb_spark.store import KVStore

    n_keys = 5_000 if run.smoke else 100_000
    defer_replaced_frees(run, run.path("setup"))

    def build(d):
        keys, vals, absent = gen.kv_keys(run.seed, n_keys)
        ops = gen.kv_ops(run.seed, n_keys, 40_000)
        st = KVStore.create(None, d)
        t0 = time.perf_counter()
        # a bulk load: unsynced batches, made durable by the compaction;
        # their dead dirs are left to the run dir's removal at exit
        # (vacuuming them would free their blocks inside set-up)
        for j in range(0, n_keys, 4096):
            st.write_batch([("put", k, v) for k, v in
                            zip(keys[j:j + 4096], vals[j:j + 4096])],
                           sync=False)
        t1 = time.perf_counter()
        st.compact()
        run.detail.update(ingest_rows_per_s=n_keys / (t1 - t0),
                          compact_s=time.perf_counter() - t1)
        return d, keys, vals, absent, ops

    d, keys, vals, absent, ops = run.timed_setup(build)
    st = KVStore.open_embedded(d)

    model = dict(zip(keys, vals))
    live = sorted(keys)
    snap = None            # (seq, model copy, sorted keys copy)
    if run.tracer is not None:
        from perfbench.trace import install_kv
        install_kv(run.tracer)

    def expect_page(m, order, lo):
        i = bisect.bisect_left(order, lo)
        return [(k, m[k]) for k in order[i:i + PAGE]]

    from quasdb_spark.store import _FOOTER_CACHE
    hits0, miss0 = _FOOTER_CACHE.hits, _FOOTER_CACHE.misses
    writes = user_bytes = 0
    cpu0 = cpu_s()
    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    n = 0
    while time.perf_counter() < deadline and n < len(ops["kind"]):
        if n % SNAP_EVERY == 0:
            old = snap
            snap = (st.snapshot(), dict(model), list(live))
            if old is not None:
                st.release_snapshot(old[0])
        if run.tracer is not None:
            run.tracer.rid = n
        kind = ops["kind"][n]
        use_snap = bool(ops["snap"][n])
        asof, m, order = (snap if use_snap else (None, model, live))
        if kind == 0:
            k = absent[ops["key"][n]] if ops["miss"][n] \
                else keys[ops["key"][n]]
            t0 = time.perf_counter()
            got = st.get(k, asof=asof)
            t1 = time.perf_counter()
            run.record("get", (t1 - t0) * 1e3)
            run.done.append(t1)
            run.check(got == m.get(k), f"get {k} asof={asof}")
        elif kind == 1:
            lo = keys[ops["key"][n]]
            t0 = time.perf_counter()
            page = st.scan_rows(lo, None, asof=asof, limit=PAGE)
            t1 = time.perf_counter()
            run.record("scan", (t1 - t0) * 1e3)
            run.done.append(t1)
            run.check([tuple(r) for r in page] == expect_page(m, order, lo),
                      f"scan {lo} asof={asof}")
        else:
            batch = []
            for k_i, dele, val in zip(ops["wkeys"][n], ops["wdel"][n],
                                      ops["wval"][n]):
                k = keys[k_i]
                batch.append(("del", k, None) if dele
                             else ("put", k, f"{val:064d}"))
            t0 = time.perf_counter()
            st.write_batch(batch, sync=True)
            t1 = time.perf_counter()
            run.record("write", (t1 - t0) * 1e3)
            run.done.append(t1)
            writes += 1
            user_bytes += sum(len(k) + len(v or "") for _, k, v in batch)
            for op, k, v in batch:
                if op == "put":
                    if k not in model:
                        bisect.insort(live, k)
                    model[k] = v
                elif k in model:
                    del model[k]
                    live.pop(bisect.bisect_left(live, k))
        n += 1
    run.loop_s = time.perf_counter() - t_start
    run.rate = run.ops_per_s(t_start)
    run.context.update(
        loadgen_cpu_s=cpu_s() - cpu0, user_bytes=user_bytes,
        footer_hits=_FOOTER_CACHE.hits - hits0,
        footer_misses=_FOOTER_CACHE.misses - miss0,
        version_kb=version_kb(st))
    if run.tracer is not None:
        run.tracer.uninstall()
    run.detail["space_amp"] = space_amp(
        st, sum(len(k) + len(v) for k, v in model.items()))


# ================================================================ kv_http
def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _ts_key(sid: int, t: int) -> str:
    from quasdb_spark.tsstore import encode_key

    return encode_key(gen.series_name(sid), gen.step_ts(t))


def _build_http_store(run, spark, d: str, n_series: int, n_steps: int,
                      target_files: int) -> str:
    import pandas as pd

    from quasdb_spark.tsstore import TSStore

    cols = gen.ts_points(run.seed, n_series, n_steps)
    pdf = pd.DataFrame({
        "series_id": [gen.series_name(s) for s in cols["sid"]],
        "ts": pd.to_datetime(gen.TS0) + pd.to_timedelta(cols["t"] * 60,
                                                        unit="s"),
        "value": cols["value"]})
    df = spark.createDataFrame(pdf)
    ts = TSStore.create(spark, d)
    t0 = time.perf_counter()
    ts.ingest_df(df)
    t1 = time.perf_counter()
    ts.store.compact(target_files=target_files, vacuum=True)
    run.detail.update(ingest_rows_per_s=len(pdf) / (t1 - t0),
                      compact_s=time.perf_counter() - t1)
    run.context["version_kb"] = version_kb(ts.store)
    return d


def _start_servers(run, store_path: str, n: int) -> list:
    """``n`` serving processes, each on its own port so that every one
    gets the same number of connections (kernel SO_REUSEPORT hashing of
    a few connections onto a shared port is lopsided in some runs).
    Each writes a ready file once bound and a stats file when
    terminated."""
    procs, ports = [], []
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))) + os.pathsep + env.get("PYTHONPATH", "")

    def reap():
        for p in procs:
            if p.poll() is None:
                p.terminate()
        for p in procs:
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()

    run.cleanups.append(reap)
    for w in range(n):
        ports.append(_free_port())
        procs.append(subprocess.Popen(
            [sys.executable, "-m", "perfbench.serve", store_path,
             str(ports[-1]), run.path("trace", f"server-{w}"),
             "1" if run.tracer is not None else "0"], env=env))
    deadline = time.time() + 60
    while not all(os.path.exists(run.path("trace", f"server-{w}.ready"))
                  for w in range(n)):
        if time.time() > deadline or any(p.poll() is not None
                                         for p in procs):
            raise RuntimeError("serving processes did not start")
        time.sleep(0.05)
    for w, p in enumerate(procs):
        run.rss_pids[f"server{w}"] = p.pid
    return ports, procs, reap


def kv_http(run) -> None:
    from perfbench.analytics import start_spark

    if run.smoke:
        n_series, n_steps, target = 600, 10, 600
    else:
        n_series, n_steps, target = 1000, 60, 1000
    spark = start_spark(run)
    store = run.timed_setup(lambda d: _build_http_store(
        run, spark, d, n_series, n_steps, target))
    run.sample_rss()
    run.stop_spark()  # its JVM would compete with the servers for CPU

    t0 = time.perf_counter()
    ports, procs, reap = _start_servers(run, store, max(1, run.cpus // 2))
    # one connection per server process: two connections on one process
    # take turns on its GIL and share its footer cache, and how far apart
    # their scans of the file list run decides its hit ratio, which made
    # throughput differ by a third between otherwise equal runs
    conns = len(ports)
    run.setup_s += time.perf_counter() - t0
    ops = gen.http_ops(run.seed, n_series, n_steps, 200_000)
    counter = itertools.count()
    deadline = [0.0]
    lock = threading.Lock()
    errors: list[BaseException] = []

    def request(conn, n):
        sid, t = int(ops["sid"][n]), int(ops["t"][n])
        if ops["scan"][n]:
            q = urllib.parse.urlencode(
                {"from": _ts_key(sid, max(0, t - PAGE + 1)),
                 "to": _ts_key(sid, t + 1), "limit": PAGE})
            kind, path = "scan", f"/scan?{q}"
        else:
            q = urllib.parse.urlencode({"key": _ts_key(sid, t)})
            kind, path = "get", f"/get?{q}"
        t0 = time.perf_counter()
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        t1 = time.perf_counter()
        return kind, t1, (t1 - t0) * 1e3, _check_http(run.seed, kind, sid, t, resp.status,
                                     body)

    def client(w: int, warm: threading.Barrier):
        conn = http.client.HTTPConnection("127.0.0.1", ports[w], timeout=60)
        lat = {"get": [], "scan": []}
        done = []
        checks = []
        try:
            # untimed warm-up on the connection's own server process
            for n in range(len(ops["sid"]) - 1 - w,
                           len(ops["sid"]) - 1 - 10 * conns, -conns):
                checks.append(request(conn, n)[3])
            warm.wait()
            while time.perf_counter() < deadline[0]:
                n = next(counter)
                kind, t1, ms, check = request(conn, n)
                lat[kind].append(ms)
                done.append(t1)
                checks.append(check)
        except BaseException as e:  # reported after the join
            errors.append(e)
            warm.abort()
        finally:
            conn.close()
            with lock:
                for k, xs in lat.items():
                    run.lat.setdefault(k, []).extend(xs)
                run.done.extend(done)
                for ok, what in checks:
                    run.check(ok, what)

    t_start = [0.0]

    def open_window():
        t_start[0] = time.perf_counter()
        deadline[0] = t_start[0] + run.seconds

    warm = threading.Barrier(conns + 1, action=open_window)
    threads = [threading.Thread(target=client, args=(w, warm))
               for w in range(conns)]
    for th in threads:
        th.start()
    try:
        warm.wait()
    except threading.BrokenBarrierError:
        pass  # a client failed; its error is raised below
    cpu0 = cpu_s()
    for th in threads:
        th.join()
    run.loop_s = time.perf_counter() - t_start[0]
    run.rate = run.ops_per_s(t_start[0])
    if errors:
        raise errors[0]
    run.context["loadgen_cpu_s"] = cpu_s() - cpu0
    run.sample_rss()
    reap()
    run.context["servers"] = len(procs)


def _check_http(seed, kind, sid, t, status, body) -> tuple[bool, str]:
    what = f"{kind} s{sid} t{t}"
    if status != 200:
        return False, f"{what}: HTTP {status}"
    doc = json.loads(body)
    if kind == "get":
        return (doc["key"] == _ts_key(sid, t)
                and doc["value"]["v"] == gen.series_point(seed, sid, t)), what
    lo_t = max(0, t - PAGE + 1)
    want = [_ts_key(sid, s) for s in range(lo_t, t + 1)]
    rows = doc["rows"]
    return ([r[0] for r in rows] == want
            and all(r[1]["v"] == gen.series_point(seed, sid, s)
                    for r, s in zip(rows, range(lo_t, t + 1)))), what
