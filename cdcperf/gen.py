"""Workload inputs made from a seed with NumPy and pyarrow only.

The source-repo change schema is ``lsn, op, repo, path, commit, lang,
content`` keyed by ``(repo, path)``. Every input is a pure function of
the seed and the sizes, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = np.array(["py", "scala", "java", "sql", "md", "yaml"])
PATHS_PER_REPO = 40


@dataclass(frozen=True)
class Sizes:
    keys: int  # live keys in the resident table
    buckets: int
    bulk_events: int  # delivered change rows in the bulk backlog
    bulk_batches: int
    bulk_files: int
    tail_files: int  # log files drained per stream_tail sample
    tail_events: int  # events per tail file (before duplicates)
    delta_batches: int  # merge-on-read batches in the point_reads table
    delta_events: int


SIZES = {
    "full": Sizes(
        keys=12_000,
        buckets=8,
        bulk_events=160_000,
        bulk_batches=3,
        bulk_files=8,
        tail_files=5,
        tail_events=900,
        delta_batches=2,
        delta_events=1_000,
    ),
    "tiny": Sizes(
        keys=1_500,
        buckets=8,
        bulk_events=6_000,
        bulk_batches=2,
        bulk_files=2,
        tail_files=2,
        tail_events=200,
        delta_batches=2,
        delta_events=300,
    ),
}


def key_columns(key_ids: np.ndarray) -> tuple[pa.Array, pa.Array]:
    k = key_ids.astype(np.int64)
    r = k // PATHS_PER_REPO
    s = lambda a: pc.cast(pa.array(a), pa.string())  # noqa: E731
    repo = pc.binary_join_element_wise("org", s(r % 50), "/repo", s(r), "")
    path = pc.binary_join_element_wise("src/m", s(k % 8), "/file_", s(k), ".py", "")
    return repo, path


class EventMaker:
    """Builds change rows; content comes from a per-seed pool of random
    text blocks of 64-512 characters, commit is unique per LSN."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 _=()\n", dtype=np.uint8)
        lengths = rng.integers(64, 513, 1024)
        self.pool = pa.array(
            [alphabet[rng.integers(0, len(alphabet), n)].tobytes().decode() for n in lengths]
        )

    def rows(self, lsns: np.ndarray, key_ids: np.ndarray, ops: np.ndarray) -> pa.Table:
        n = len(lsns)
        repo, path = key_columns(key_ids)
        live = ops != "D"
        commit = pc.binary_join_element_wise(
            "c", pc.cast(pa.array((lsns * 2654435761) % (1 << 48)), pa.string()), ""
        )
        content = self.pool.take(pa.array(self.rng.integers(0, len(self.pool), n)))
        lang = pa.array(LANGS[key_ids % len(LANGS)])
        mask = pa.array(~live)
        null = lambda a: pc.if_else(mask, pa.scalar(None, a.type), a)  # noqa: E731
        return pa.table(
            {
                "lsn": pa.array(lsns.astype(np.int64)),
                "op": pa.array(ops),
                "repo": repo,
                "path": path,
                "commit": null(commit),
                "lang": null(lang),
                "content": null(content),
            }
        )


def zipf_keys(rng, n: int, key_space: int, perm: np.ndarray) -> np.ndarray:
    """Skewed key draw: rank = floor(key_space * u^3), mapped through a
    fixed permutation so hot keys scatter over buckets."""
    rank = np.floor(key_space * rng.random(n) ** 3).astype(np.int64)
    return perm[np.minimum(rank, key_space - 1)]


def change_ops(rng, key_ids: np.ndarray, n_live: int, delete_frac: float = 0.08) -> np.ndarray:
    ops = np.where(key_ids < n_live, "U", "I").astype(object)
    ops[rng.random(len(key_ids)) < delete_frac] = "D"
    return ops.astype(str)


def with_duplicates(rng, t: pa.Table, frac: float = 0.10) -> pa.Table:
    """At-least-once delivery: ``frac`` of rows delivered twice."""
    dup = np.sort(rng.choice(t.num_rows, int(round(t.num_rows * frac)), replace=False))
    return pa.concat_tables([t, t.take(pa.array(dup))])


def write_shuffled(rng, t: pa.Table, path: str) -> None:
    """One log file with its rows shuffled, so LSNs arrive out of order."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t.take(pa.array(rng.permutation(t.num_rows))), path)


@dataclass
class Fixture:
    base_dir: str  # resident-table insert log
    lsn_start: int  # first LSN after the base
    batch_size: int  # aligned batch size covering the base in one batch
    perm: np.ndarray
    key_space: int


def make_base(rng, maker: EventMaker, sz: Sizes, out: str, batch_size: int) -> Fixture:
    """Insert log of ``sz.keys`` live keys, its LSNs ending right below
    a multiple of ``batch_size`` so later batches start aligned."""
    lsn_start = batch_size * math.ceil(sz.keys / batch_size)
    key_space = int(sz.keys * 1.25)
    perm = rng.permutation(key_space)
    ids = np.arange(sz.keys, dtype=np.int64)
    lsns = np.arange(lsn_start - sz.keys, lsn_start, dtype=np.int64)
    t = maker.rows(lsns, ids, np.full(sz.keys, "I"))
    write_shuffled(rng, t, os.path.join(out, "part-00000.parquet"))
    return Fixture(out, lsn_start, lsn_start, perm, key_space)


def bulk_inputs(seed: int, sz: Sizes, work: str) -> dict:
    """Resident-table inserts plus a backlog of ~``sz.bulk_events``
    delivered rows (10 % duplicates) in ``sz.bulk_files`` files, whose
    LSNs cover exactly ``sz.bulk_batches`` aligned batches."""
    rng = np.random.default_rng([seed, 1])
    maker = EventMaker(rng)
    unique = int(round(sz.bulk_events / 1.10))
    batch = math.ceil(unique / sz.bulk_batches)
    fx = make_base(rng, maker, sz, os.path.join(work, "base"), batch)
    ids = zipf_keys(rng, unique, fx.key_space, fx.perm)
    lsns = np.arange(fx.lsn_start, fx.lsn_start + unique, dtype=np.int64)
    log = with_duplicates(rng, maker.rows(lsns, ids, change_ops(rng, ids, sz.keys)))
    log = log.sort_by("lsn")
    edges = np.linspace(0, log.num_rows, sz.bulk_files + 1).astype(int)
    log_dir = os.path.join(work, "log")
    for i in range(sz.bulk_files):
        write_shuffled(
            rng, log.slice(edges[i], edges[i + 1] - edges[i]), os.path.join(log_dir, f"part-{i:05d}.parquet")
        )
    return {
        "fixture": fx,
        "log_dir": log_dir,
        "events": log.num_rows,
        "log_bytes": _dir_bytes(log_dir),
        "batch_size": batch,
    }


def tail_inputs(seed: int, sz: Sizes, work: str) -> dict:
    """Resident-table inserts plus ``sz.tail_files`` small log files of
    ``sz.tail_events`` events each (plus duplicates); half of each file's
    keys repeat keys of the previous file. Equal sizes keep the epoch
    latencies one mode."""
    rng = np.random.default_rng([seed, 2])
    maker = EventMaker(rng)
    fx = make_base(rng, maker, sz, os.path.join(work, "base"), sz.keys)
    log_dir = os.path.join(work, "log")
    lsn = fx.lsn_start
    prev = zipf_keys(rng, sz.tail_events, fx.key_space, fx.perm)
    events = 0
    n = sz.tail_events
    for i in range(sz.tail_files):
        recent = rng.random(n) < 0.5
        ids = zipf_keys(rng, n, fx.key_space, fx.perm)
        ids[recent] = prev[rng.integers(0, len(prev), int(recent.sum()))]
        lsns = np.arange(lsn, lsn + n, dtype=np.int64)
        lsn += n
        t = with_duplicates(rng, maker.rows(lsns, ids, change_ops(rng, ids, sz.keys)))
        write_shuffled(rng, t, os.path.join(log_dir, f"part-{i:05d}.parquet"))
        events += t.num_rows
        prev = ids
    return {"fixture": fx, "log_dir": log_dir, "events": events, "log_bytes": _dir_bytes(log_dir)}


def point_inputs(seed: int, sz: Sizes, work: str) -> dict:
    """Resident-table inserts; the merge-on-read delta logs are made
    later by ``delta_logs`` once the key→bucket layout is known."""
    rng = np.random.default_rng([seed, 3])
    maker = EventMaker(rng)
    fx = make_base(rng, maker, sz, os.path.join(work, "base"), sz.keys)
    return {"fixture": fx, "rng": rng, "maker": maker}


def delta_logs(inp: dict, sz: Sizes, delta_keys: np.ndarray, work: str) -> list[str]:
    """``sz.delta_batches`` logs over keys of the delta buckets only:
    20 % deletes, later batches re-insert some deleted keys."""
    rng, maker, fx = inp["rng"], inp["maker"], inp["fixture"]
    dirs, lsn = [], fx.lsn_start
    for i in range(sz.delta_batches):
        ids = rng.choice(delta_keys, sz.delta_events)
        ops = np.where(rng.random(sz.delta_events) < 0.20, "D", "U")
        lsns = np.arange(lsn, lsn + sz.delta_events, dtype=np.int64)
        lsn += sz.delta_events
        t = with_duplicates(rng, maker.rows(lsns, ids, ops))
        d = os.path.join(work, f"delta{i}")
        write_shuffled(rng, t, os.path.join(d, "part-00000.parquet"))
        dirs.append(d)
    return dirs


def absent_keys(sz: Sizes, n: int) -> np.ndarray:
    """Keys outside every generated key space (never written)."""
    return np.arange(10 * sz.keys, 10 * sz.keys + n, dtype=np.int64)


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
