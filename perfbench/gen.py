"""Seeded input generation. The same seed gives the same inputs; the
program under test sees only what these functions return or write."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np


def zipf_ranks(rng: np.random.Generator, n: int, size: int,
               s: float = 0.99) -> np.ndarray:
    """``size`` draws from a bounded Zipf(s) over ranks 0..n-1."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def value_bytes(rng: np.random.Generator, n: int, width: int) -> list[str]:
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789",
                             dtype=np.uint8)
    raw = alphabet[rng.integers(0, len(alphabet), size=(n, width))]
    return [r.tobytes().decode() for r in raw]


# --------------------------------------------------------------- kv_oltp
def kv_keys(seed: int, n: int) -> tuple[list[str], list[str], list[str]]:
    """(stored keys, their 64 B values, absent keys for misses)."""
    rng = np.random.default_rng(seed)
    ids = rng.choice(10**9, size=2 * n, replace=False)
    keys = [f"k{i:09d}" for i in ids[:n]]
    absent = [f"k{i:09d}" for i in ids[n:]]
    return keys, value_bytes(rng, n, 64), absent


def kv_ops(seed: int, n_keys: int, n_ops: int) -> dict:
    """The op sequence, as parallel arrays: kind (0 get, 1 scan,
    2 write; 11/8/1 in every block of twenty, shuffled), key rank,
    whether a read uses the snapshot, whether a get targets an absent
    key, and per-write 16-op payloads."""
    rng = np.random.default_rng(seed + 1)
    perm = rng.permutation(n_keys)  # hot ranks land all over the range
    # the mix holds exactly in every block of twenty ops, so no seed
    # draws more of the slow kinds early in its window. Writes are 5 %:
    # every sync write leaves about six synced files, and on a disk
    # where freeing one costs ~50 ms the run's exit clean-up grows by
    # ~0.3 s per write
    blocks = -(-n_ops // 20)
    kind = rng.permuted(np.tile([0] * 11 + [1] * 8 + [2], (blocks, 1)),
                        axis=1).ravel()[:n_ops]
    return {
        "kind": kind,
        "key": perm[zipf_ranks(rng, n_keys, n_ops)],
        "miss": rng.random(n_ops) < 0.10,
        "snap": rng.random(n_ops) < 0.20,
        "wkeys": perm[zipf_ranks(rng, n_keys, n_ops * 16)].reshape(n_ops, 16),
        "wdel": (rng.random((n_ops, 16)) < 0.10),
        "wval": rng.integers(0, 2**62, size=(n_ops, 16)),
    }


# --------------------------------------------------------------- kv_http
TS0 = dt.datetime(2024, 1, 1)


def series_point(seed: int, sid: int, t: int) -> float:
    """The value of series ``sid`` at step ``t``: a pure function of the
    seed, so the client can check every answer without a copy."""
    h = (sid * 1_000_003 + t * 7919 + seed * 104_729) % 1_000_000_007
    return h / 1000.0


def ts_points(seed: int, n_series: int, n_steps: int) -> dict:
    """Columns of (series_id, ts, value); rows in seeded order."""
    rng = np.random.default_rng(seed)
    sid = np.repeat(np.arange(n_series), n_steps)
    t = np.tile(np.arange(n_steps), n_series)
    order = rng.permutation(len(sid))
    sid, t = sid[order], t[order]
    h = (sid.astype(np.int64) * 1_000_003 + t * 7919 + seed * 104_729) \
        % 1_000_000_007
    return {"sid": sid, "t": t, "value": h / 1000.0}


def series_name(sid: int) -> str:
    return f"s{sid:05d}"


def step_ts(t: int) -> dt.datetime:
    return TS0 + dt.timedelta(seconds=60 * int(t))


def http_ops(seed: int, n_series: int, n_steps: int, n_ops: int) -> dict:
    """Half point gets, half 50-row time-range pages; Zipf series,
    timestamps weighted to the newest tenth."""
    rng = np.random.default_rng(seed + 2)
    perm = rng.permutation(n_series)
    newest = rng.random(n_ops) < 0.5
    tenth = max(1, n_steps // 10)
    t = np.where(newest, n_steps - 1 - rng.integers(0, tenth, n_ops),
                 rng.integers(0, n_steps, n_ops))
    return {"scan": rng.random(n_ops) < 0.5,
            "sid": perm[zipf_ranks(rng, n_series, n_ops)], "t": t}


# ----------------------------------------------------- Spark table inputs
_WORDS = ("spark vector merge key value scan sort hash join window "
          "stream batch table row column query filter group order part "
          "data line fast slow big small agg index level file cache "
          "store log seq snapshot compact series time point range "
          "page shard node task stage shuffle spill memory disk").split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_TYPES = ["click", "view", "purchase", "signup", "error"]


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path)


def write_events(seed: int, out_dir: str, n: int, n_users: int) -> str:
    """The ``events`` op-log table (same schema as the driver tables),
    rows in a seeded permutation."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 10)
    t0 = int(TS0.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    span = 30 * 86400 * 10**6
    ts = t0 + np.sort(rng.integers(0, span, n))
    order = rng.permutation(n)
    tbl = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)[order]),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n)[order]
                            .astype(np.int64)),
        "event_type": pa.array([_TYPES[i] for i in
                                rng.integers(0, 5, n)[order]]),
        "value": pa.array(np.round(rng.integers(1, 50000, n)[order] / 100.0,
                                   2)),
        "props": pa.array([f'{{"k": {i}}}' for i in
                           rng.integers(0, 100, n)[order]]),
    })
    path = os.path.join(out_dir, "events.parquet")
    _write(tbl, path)
    return path


def write_documents(seed: int, out_dir: str, n: int) -> str:
    """``documents``: random word sequences, a fifth of them lightly
    edited copies of earlier ones so near-duplicate pairs exist."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 11)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = \
                    _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in
                     rng.integers(0, len(_WORDS), int(rng.integers(12, 60)))]
        texts.append(" ".join(words))
    order = rng.permutation(n)
    tbl = pa.table({
        "doc_id": pa.array(order.astype(np.int64)),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, 5, n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    _write(tbl, path)
    return path


def write_embeddings(seed: int, out_dir: str, n: int, dim: int = 64) -> str:
    """``embeddings``: 10 labelled clusters in ``dim`` dimensions, with
    some near-copies so semantic-dedup components exist."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 12)
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(0, 2.0, (n, dim))
    dup = rng.random(n) < 0.1
    src = rng.integers(0, n, n)
    vec[dup] = vec[src[dup]] + rng.normal(0, 0.05, (int(dup.sum()), dim))
    label[dup] = label[src[dup]]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    order = rng.permutation(n)
    tbl = pa.table({
        "vec_id": pa.array(order.astype(np.int64)),
        "embedding": pa.array([v.astype(np.float32) for v in vec],
                              pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    path = os.path.join(out_dir, "embeddings.parquet")
    _write(tbl, path)
    return path
