"""One serving process for ``kv_http``:

    python3 -m perfbench.serve <store> <port> <out-prefix> <trace 0|1>

Opens the store embedded (no Spark) and serves it with
``RawStoreServer(reuse_port=True)`` on the shared port. Writes
``<out-prefix>.ready`` once bound. On SIGTERM it writes
``<out-prefix>.jsonl``: its request count, CPU seconds, footer-cache
counts and, when traced, its spans.
"""

from __future__ import annotations

import os
import resource
import signal
import sys
import threading


def main(store_path: str, port: int, out: str, traced: bool) -> None:
    from quasdb_spark import server
    from quasdb_spark.store import _FOOTER_CACHE, KVStore

    from perfbench.trace import Tracer, install_kv, install_server

    tracer = Tracer()
    if traced:
        install_kv(tracer)
        install_server(tracer)
    handle = server.handle_request
    lock = threading.Lock()
    requests = [0]

    def counted(*args, **kwargs):
        with lock:
            requests[0] += 1
            tracer.rid = requests[0]
        return handle(*args, **kwargs)

    server.handle_request = counted
    srv = server.RawStoreServer(store=KVStore.open_embedded(store_path),
                                port=port, reuse_port=True)

    def stop(*_):
        threading.Thread(target=srv.shutdown, daemon=True).start()

    signal.signal(signal.SIGTERM, stop)
    open(out + ".ready", "w").close()
    try:
        srv.serve_forever()
    finally:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        tracer.dump(out + ".jsonl", {"server": {
            "requests": requests[0], "cpu_s": ru.ru_utime + ru.ru_stime,
            "footer_hits": _FOOTER_CACHE.hits,
            "footer_misses": _FOOTER_CACHE.misses}})
        srv.server_close()


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4] == "1")
    os._exit(0)  # skip joining daemon connection threads
