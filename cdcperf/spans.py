"""Layer spans for the traced run: wrappers around public calls, span
self-time by interval union, a counting FileIO, and Spark event-log
task metrics attributed to layers through a job local property.

Everything here wraps the program from outside: module attributes are
swapped for timing wrappers, and the counting FileIO goes in through
the public ``io=`` parameter of ``LakeTable.load``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

LAYER_PROP = "cdcperf.layer"

# A span opened on a thread with no open span of its own is parented to
# the innermost open span (any thread) whose name is listed here; the
# stats prefetch runs on its own thread but belongs to the replay.
CROSS_THREAD_PARENTS = {
    "cdc.merge.stats": ("cdc.engine.replay",),
}


def union_length(intervals, lo=None, hi=None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs),
    each clipped to ``[lo, hi]`` when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Span:
    __slots__ = ("id", "name", "parent", "thread", "start", "end", "info")

    def __init__(self, sid, name, parent, thread, start):
        self.id = sid
        self.name = name
        self.parent = parent
        self.thread = thread
        self.start = start
        self.end = None
        self.info = {}

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


class Recorder:
    """Thread-aware span recorder. Parent = innermost open span on the
    same thread; else a listed cross-thread parent; else the root span
    open on the main thread (the measured operation)."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._main = threading.main_thread().ident
        self.bloom = {"candidates": 0, "kept": 0}  # sidecar filter probes

    def open(self, name: str) -> Span:
        tid = threading.get_ident()
        now = time.time()
        with self._lock:
            stack = self._stacks[tid]
            parent = stack[-1] if stack else None
            if parent is None:
                wanted = CROSS_THREAD_PARENTS.get(name, ())
                for other in self._stacks.values():
                    for sp in reversed(other):
                        if sp.name in wanted and (parent is None or sp.start > parent.start):
                            parent = sp
                            break
            if parent is None and tid != self._main and self._stacks[self._main]:
                parent = self._stacks[self._main][0]
            sp = Span(len(self.spans), name, parent.id if parent else None, tid, now)
            self.spans.append(sp)
            stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        with self._lock:
            stack = self._stacks[sp.thread]
            if sp in stack:
                stack.remove(sp)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent].append(sp)
        return out

    def self_times(self) -> dict[int, float]:
        """Per span: wall minus the union of its children's intervals
        (clipped to the span), so children overlapping each other on
        two threads are not subtracted twice."""
        kids = self.children()
        out = {}
        for sp in self.spans:
            if sp.end is None:
                continue
            covered = union_length(
                [(c.start, c.end) for c in kids.get(sp.id, []) if c.end is not None],
                sp.start,
                sp.end,
            )
            out[sp.id] = sp.wall - covered
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def in_op(self) -> bool:
        """Whether a measured operation's root span (``op.*``, opened on
        the main thread) is open."""
        return any(s.name.startswith("op.") for s in list(self._stacks[self._main]))

    def under_ops(self) -> "Recorder":
        """A recorder holding only the ``op.*`` roots and the spans below
        them: restores, reloads and correctness checks outside the
        measured operations are left out."""
        keep: set[int] = set()
        for sp in self.spans:  # a parent opens before its children
            if sp.name.startswith("op.") or sp.parent in keep:
                keep.add(sp.id)
        out = Recorder()
        out.spans = [sp for sp in self.spans if sp.id in keep]
        out.bloom = self.bloom
        return out


class _Layer:
    """Context manager: open a span and tag Spark jobs started by this
    thread with the span's layer (restored on exit)."""

    def __init__(self, rec: Recorder, name: str, sc, layer: str | None):
        self.rec, self.name, self.sc, self.layer = rec, name, sc, layer

    def __enter__(self):
        self.sp = self.rec.open(self.name)
        if self.sc is not None and self.layer is not None:
            self.prev = self.sc.getLocalProperty(LAYER_PROP)
            self.sc.setLocalProperty(LAYER_PROP, self.layer)
        return self.sp

    def __exit__(self, *exc):
        if self.sc is not None and self.layer is not None:
            self.sc.setLocalProperty(LAYER_PROP, self.prev)
        self.rec.close(self.sp)
        return False


def layer(rec: Recorder, name: str, sc=None, tag: str | None = None) -> _Layer:
    return _Layer(rec, name, sc, tag)


# ------------------------------------------------------------ wrappers


def install(rec: Recorder, sc) -> list:
    """Swap the program's public entry points for span wrappers; returns
    the undo list for ``uninstall``."""
    import panorama_elt_spark.cdc.engine as engine_mod
    import panorama_elt_spark.cdc.merge as merge_mod
    import panorama_elt_spark.lakehouse.bloom as bloom_mod
    import panorama_elt_spark.streaming.tail as tail_mod
    from panorama_elt_spark.lakehouse.snapshot import SnapshotLog
    from panorama_elt_spark.lakehouse.table import LakeTable

    undo = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        undo.append((owner, attr, orig))

    def timed(name, tag=None, after=None):
        def make(orig):
            def wrapper(*a, **kw):
                with layer(rec, name, sc if tag else None, tag) as sp:
                    out = orig(*a, **kw)
                    if after is not None:
                        after(sp, a, kw, out)
                    return out

            wrapper.__wrapped__ = orig
            return wrapper

        return make

    def merge_info(sp, a, kw, out):
        sp.info.update(
            rows_in=out.rows_in,
            keys_in_batch=out.keys_in_batch,
            buckets_touched=out.buckets_touched,
            rows_upserted=out.rows_upserted,
            rows_deleted=out.rows_deleted,
            skipped=out.skipped,
            strategy=out.strategy,
        )

    def write_info(sp, a, kw, out):
        table = a[0]
        sp.info["files"] = len(out)
        sp.info["bytes"] = sum(
            os.path.getsize(os.path.join(table.root, f.path)) for f in out
        )

    merge_wrap = timed("cdc.merge.merge_batch", "cdc.merge", merge_info)
    stats_wrap = timed("cdc.merge.stats", "cdc.merge.stats")
    orig_merge = merge_mod.merge_batch
    wrapped_merge = merge_wrap(orig_merge)
    for mod in (merge_mod, engine_mod, tail_mod):
        undo.append((mod, "merge_batch", getattr(mod, "merge_batch")))
        setattr(mod, "merge_batch", wrapped_merge)
    orig_stats = merge_mod.compute_batch_stats
    wrapped_stats = stats_wrap(orig_stats)
    for mod in (merge_mod, engine_mod):
        undo.append((mod, "compute_batch_stats", getattr(mod, "compute_batch_stats")))
        setattr(mod, "compute_batch_stats", wrapped_stats)

    patch(engine_mod.CdcEngine, "replay", timed("cdc.engine.replay", "cdc.engine"))
    patch(LakeTable, "write_bucket_files", timed("lakehouse.table.write", None, write_info))
    patch(LakeTable, "commit_replace_buckets", timed("lakehouse.table.commit"))
    patch(LakeTable, "read", timed("lakehouse.table.read_plan"))
    patch(LakeTable, "read_where", timed("lakehouse.table.read_plan"))
    patch(SnapshotLog, "commit", timed("lakehouse.snapshot.commit_cas"))
    patch(SnapshotLog, "read_current", timed("lakehouse.snapshot.resolve"))
    patch(SnapshotLog, "read_version", timed("lakehouse.snapshot.read_version"))
    patch(
        tail_mod,
        "stream_changelog_to_table",
        timed("streaming.tail.query_start", "streaming.tail"),
    )

    bloom_counts = rec.bloom

    def bloom_make(orig):
        def wrapper(*a, **kw):
            keep = orig(*a, **kw)

            def counted(f):
                ok = keep(f)
                if rec.in_op():
                    bloom_counts["candidates"] += 1
                    bloom_counts["kept"] += int(bool(ok))
                return ok

            return counted

        return wrapper

    patch(bloom_mod, "sidecar_file_filter", bloom_make)
    return undo


def uninstall(undo) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


def counting_fileio(active):
    """A ``LocalFileIO`` that counts calls per method while ``active()``
    holds."""
    from panorama_elt_spark.lakehouse.fileio import LocalFileIO

    class CountingFileIO(LocalFileIO):
        def __init__(self):
            super().__init__()
            self.calls = defaultdict(int)

    for meth in (
        "read_text",
        "read_bytes",
        "write_text_if_absent",
        "write_text",
        "write_bytes",
        "list",
        "list_dir",
        "exists",
        "delete",
        "delete_prefix",
    ):
        base = getattr(LocalFileIO, meth)

        def make(base=base, meth=meth):
            def counted(self, *a, **kw):
                if active():
                    self.calls[meth] += 1
                return base(self, *a, **kw)

            return counted

        setattr(CountingFileIO, meth, make())
    return CountingFileIO()


def fileio_totals(calls: dict) -> dict:
    return {
        "list": calls.get("list", 0) + calls.get("list_dir", 0),
        "read": calls.get("read_text", 0) + calls.get("read_bytes", 0) + calls.get("exists", 0),
        "write": calls.get("write_text", 0)
        + calls.get("write_text_if_absent", 0)
        + calls.get("write_bytes", 0),
    }


# ------------------------------------------------------ spark event log


def spark_jobs(event_dir: str) -> list[dict]:
    """Jobs from the Spark event log: layer property, submit/complete
    times (epoch seconds) and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # rolling event logs (the Spark 4 default) write a directory per app
    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(event_dir)
        for n in names
        if not n.startswith("appstatus")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "layer": props.get(LAYER_PROP) or "unattributed",
                        "start": ev.get("Submission Time", 0) / 1000.0,
                        "end": None,
                        "tasks": 0,
                        "executor_run_s": 0.0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["end"] = ev.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if jid is None or jid not in jobs:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return [j for j in jobs.values() if j["end"] is not None]
