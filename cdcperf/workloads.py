"""The three closed-loop workloads.

Each workload has ``setup`` (fixture build, repeated for the setup
median), ``sample`` (one measured operation with its correctness
checks) and reports what it timed in a ``Sample``. Restores, checks and
key choice happen outside the timers.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle
import probe
import spans

SCHEMA_FIELDS = [
    ("repo", "string", False),
    ("path", "string", False),
    ("commit", "string", True),
    ("lang", "string", True),
    ("content", "string", True),
]
KEYS = ["repo", "path"]


@dataclass
class Sample:
    units: float  # events (write workloads) or operations (point_reads)
    wall: float  # wall the throughput is computed over
    bulk_op: list[float]  # walls of the full operation(s)
    latencies: list[float]  # per-operation walls for p50/p75
    cpu_s: float
    attempted: int = 1
    failed: int = 0
    errors: list[str] = field(default_factory=list)  # wrong results
    ops: int = 1  # operations the per-op trace figures divide by
    extra: dict = field(default_factory=dict)  # per-workload trace inputs
    traced: bool = False


def table_schema():
    from panorama_elt_spark.lakehouse import Field, TableSchema

    return TableSchema(
        [Field(i + 1, n, t, nl) for i, (n, t, nl) in enumerate(SCHEMA_FIELDS)],
        schema_version=1,
    )


class Ctx:
    def __init__(self, spark, work: str, sizes: gen.Sizes, seed: int):
        self.spark = spark
        self.work = work
        self.sizes = sizes
        self.seed = seed
        self.rec: spans.Recorder | None = None  # set while tracing
        self.fileio = None  # counting FileIO while tracing
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, "run", f"{tag}{self._n:04d}")

    def io(self):
        return self.fileio if self.rec is not None else None


def build_resident(ctx: Ctx, base_dir: str, lsn_batch: int, root: str):
    """The resident table: base inserts appended as merge-on-read
    deltas, then compacted into base files (zone maps and blooms)."""
    from panorama_elt_spark.cdc import CdcEngine
    from panorama_elt_spark.lakehouse import LakeTable

    t = LakeTable.create(ctx.spark, root, table_schema(), KEYS, n_buckets=ctx.sizes.buckets)
    CdcEngine(t, strategy="append_delta").replay(
        ctx.spark.read.parquet(base_dir), batch_size=lsn_batch
    )
    t.compact()
    return t


def restore(ctx: Ctx, src: str, tag: str) -> str:
    shutil.rmtree(os.path.join(ctx.work, "run"), ignore_errors=True)
    dst = ctx.fresh_dir(tag)
    shutil.copytree(src, dst)
    return dst


def check_state(ctx: Ctx, root: str, want: tuple[int, int], what: str) -> list[str]:
    from panorama_elt_spark.lakehouse import LakeTable

    got = oracle.digest(LakeTable.load(ctx.spark, root).read())
    return [] if got == want else [f"{what}: state digest {got} != oracle {want}"]


class _BatchTimer:
    """Times each batch apply by wrapping the merge entry point the
    replay loop calls (installed outermost, over any trace wrapper)."""

    def __init__(self):
        import panorama_elt_spark.cdc.engine as engine_mod

        self.mod = engine_mod
        self.walls: list[float] = []

    def __enter__(self):
        inner = self.orig = self.mod.merge_batch

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return inner(*a, **kw)
            finally:
                self.walls.append(time.perf_counter() - t0)

        self.mod.merge_batch = timed
        return self

    def __exit__(self, *exc):
        self.mod.merge_batch = self.orig
        return False


class Op:
    """The measured operation: wall, tree CPU and (when tracing) a root
    span that layer spans attach to."""

    def __init__(self, ctx: Ctx, name: str, cpu: bool = True):
        self.ctx, self.name, self.with_cpu = ctx, name, cpu
        self.cpu = 0.0

    def __enter__(self):
        rec = self.ctx.rec
        self.sp = rec.open(self.name) if rec is not None else None
        self.cpu0 = probe.tree_cpu_s() if self.with_cpu else 0.0
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        if self.with_cpu:
            self.cpu = probe.tree_cpu_s() - self.cpu0
        if self.sp is not None:
            self.ctx.rec.close(self.sp)
        return False


# ---------------------------------------------------------------- bulk


class BulkReplay:
    name = "bulk_replay"
    unit_scale = 1000.0  # cpu_s_per_unit is per 1 000 events
    min_samples = 3
    # replay walls keep falling for a few passes after the first (JIT)
    warmup_passes = 2

    def prepare(self, ctx: Ctx) -> None:
        self.inp = gen.bulk_inputs(ctx.seed, ctx.sizes, os.path.join(ctx.work, "in"))
        fx = self.inp["fixture"]
        state = oracle.lww_state([fx.base_dir + "/*.parquet", self.inp["log_dir"] + "/*.parquet"])
        self.want = oracle.oracle_digest(ctx.spark, state)
        self.log_df = ctx.spark.read.parquet(self.inp["log_dir"])

    def setup(self, ctx: Ctx) -> None:
        fx = self.inp["fixture"]
        self.fixture = os.path.join(ctx.work, "fixture")
        build_resident(ctx, fx.base_dir, fx.batch_size, self.fixture)

    def sample(self, ctx: Ctx) -> Sample:
        from panorama_elt_spark.cdc import CdcEngine
        from panorama_elt_spark.lakehouse import LakeTable

        root = restore(ctx, self.fixture, "bulk")
        table = LakeTable.load(ctx.spark, root, io=ctx.io())
        with _BatchTimer() as bt, Op(ctx, "op.bulk_replay") as op:
            report = CdcEngine(table).replay(self.log_df, batch_size=self.inp["batch_size"])
        errs = check_state(ctx, root, self.want, "bulk_replay")
        applied = [b for b in report.batches if not b.skipped]
        if len(applied) != ctx.sizes.bulk_batches:
            errs.append(f"bulk_replay: {len(applied)} batches applied, want {ctx.sizes.bulk_batches}")
        return Sample(
            units=self.inp["events"],
            wall=op.wall,
            bulk_op=[op.wall],
            latencies=bt.walls,
            cpu_s=op.cpu,
            errors=errs,
            extra={"root": root},
        )


# ---------------------------------------------------------------- tail


class StreamTail:
    name = "stream_tail"
    unit_scale = 1000.0
    min_samples = 2
    warmup_passes = 1

    def prepare(self, ctx: Ctx) -> None:
        self.inp = gen.tail_inputs(ctx.seed, ctx.sizes, os.path.join(ctx.work, "in"))
        fx = self.inp["fixture"]
        state = oracle.lww_state([fx.base_dir + "/*.parquet", self.inp["log_dir"] + "/*.parquet"])
        self.want = oracle.oracle_digest(ctx.spark, state)

    setup = BulkReplay.setup

    def sample(self, ctx: Ctx) -> Sample:
        import panorama_elt_spark.streaming.tail as tail_mod
        from panorama_elt_spark.lakehouse import LakeTable

        root = restore(ctx, self.fixture, "tail")
        ckpt = root + "-ckpt"
        table = LakeTable.load(ctx.spark, root, io=ctx.io())
        with Op(ctx, "op.stream_tail") as op:
            q = tail_mod.stream_changelog_to_table(
                ctx.spark,
                self.inp["log_dir"],
                table,
                ckpt,
                trigger_available_now=True,
                max_files_per_trigger=1,
            )
            q.awaitTermination()
        errs = []
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        epochs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        if len(epochs) != ctx.sizes.tail_files:
            errs.append(f"stream_tail: {len(epochs)} epochs, want {ctx.sizes.tail_files}")
        errs += check_state(ctx, root, self.want, "stream_tail")
        return Sample(
            units=self.inp["events"],
            wall=op.wall,
            bulk_op=[op.wall],
            # the first epoch of a query is a mode of its own (query start,
            # cold plan); it counts in bulk_op, the latency takes the rest
            latencies=epochs[1:],
            cpu_s=op.cpu,
            errors=errs,
            extra={"epochs": epochs, "root": root},
        )


# --------------------------------------------------------------- reads


class PointReads:
    name = "point_reads"
    untimed_s = 0.0
    unit_scale = 1.0  # cpu_s_per_unit is per operation
    min_samples = 2
    warmup_passes = 1
    # read_where lookups per cycle. Clean-bucket lookups are a fast mode
    # (~0.1 s against ~0.25 s); kept to a fifth of the lookups so that
    # p50 and p75 both sit well inside the slow mode.
    CLEAN, DELTA, ABSENT = 2, 5, 3
    # full scans per cycle: a scan's wall varies ~10 % from one to the
    # next, so bulk_op_s takes the median of at least four per run
    SCANS = 2

    def prepare(self, ctx: Ctx) -> None:
        self.inp = gen.point_inputs(ctx.seed, ctx.sizes, os.path.join(ctx.work, "in"))

    def setup(self, ctx: Ctx) -> None:
        """Compacted base, then merge-on-read deltas (with tombstones)
        in the first quarter of the buckets. Making the delta logs and
        the oracle is the benchmark's own work; its time goes to
        ``untimed_s``."""
        from panorama_elt_spark.catalog import register_data_source
        from panorama_elt_spark.cdc import CdcEngine
        from panorama_elt_spark.lakehouse import LakeTable

        fx = self.inp["fixture"]
        self.fixture = os.path.join(ctx.work, "fixture")
        t = build_resident(ctx, fx.base_dir, fx.batch_size, self.fixture)
        t0 = time.perf_counter()
        self._plan_deltas(ctx, t)
        self.untimed_s = time.perf_counter() - t0
        if fx.lsn_start % ctx.sizes.delta_events:
            raise ValueError("delta_events must divide the base LSN range: one aligned batch per delta log")
        for d in self.delta_dirs:
            CdcEngine(t, strategy="append_delta").replay(
                ctx.spark.read.parquet(d), batch_size=ctx.sizes.delta_events
            )
        register_data_source(ctx.spark)
        self.table = LakeTable.load(ctx.spark, self.fixture, io=ctx.io())
        self._cursor = 0

    def _plan_deltas(self, ctx: Ctx, t) -> None:
        """Delta logs over the keys of the first quarter of the buckets
        (key -> bucket read from the files the engine wrote), then the
        oracle over base + deltas."""
        import pyarrow.parquet as pq

        files = t.snapshot.files
        delta_buckets = set(sorted({f.bucket for f in files})[: max(1, ctx.sizes.buckets // 4)])
        bucket_of = {}
        for f in files:
            for p in pq.read_table(os.path.join(t.root, f.path), columns=["path"]).column("path").to_pylist():
                bucket_of[p] = f.bucket
        ids = np.arange(ctx.sizes.keys)
        _, paths = gen.key_columns(ids)
        in_delta = np.array([bucket_of[p] in delta_buckets for p in paths.to_pylist()])
        self.delta_keys = ids[in_delta]
        self.clean_keys = ids[~in_delta]
        self.delta_dirs = gen.delta_logs(self.inp, ctx.sizes, self.delta_keys, os.path.join(ctx.work, "in"))
        self._oracle(ctx)

    def _oracle(self, ctx: Ctx) -> None:
        globs = [self.inp["fixture"].base_dir + "/*.parquet"] + [d + "/*.parquet" for d in self.delta_dirs]
        state = oracle.lww_state(globs)
        self.expect = oracle.rows_by_key(state)
        self.want = oracle.oracle_digest(ctx.spark, state)
        rng = np.random.default_rng([ctx.seed, 4])
        self.plan_clean = rng.permutation(self.clean_keys)
        self.plan_delta = rng.permutation(self.delta_keys)
        self.plan_absent = gen.absent_keys(ctx.sizes, 1000)

    def retable(self, ctx: Ctx) -> None:
        """Reload the table handle (the FileIO changes when tracing)."""
        from panorama_elt_spark.lakehouse import LakeTable

        self.table = LakeTable.load(ctx.spark, self.fixture, io=ctx.io())

    def _keys(self, plan: np.ndarray, n: int) -> list[tuple[str, str]]:
        i = self._cursor * n
        ids = np.array([plan[(i + j) % len(plan)] for j in range(n)])
        repo, path = gen.key_columns(ids)
        return list(zip(repo.to_pylist(), path.to_pylist()))

    def _check_rows(self, key, rows, how: str) -> list[str]:
        got = [tuple(r[c] for c in oracle.COLS) for r in rows]
        want = [self.expect[key]] if key in self.expect else []
        return [] if got == want else [f"point_reads {how} {key}: got {got[:1]} want {want[:1]}"]

    def sample(self, ctx: Ctx) -> Sample:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark, root = ctx.spark, self.fixture
        lookups = (
            self._keys(self.plan_clean, self.CLEAN)
            + self._keys(self.plan_delta, self.DELTA)
            + self._keys(self.plan_absent, self.ABSENT)
        )
        # format("panorama") lookups: one clean-bucket key, one delta-bucket key
        source_keys = self._keys(self.plan_clean, 1) + self._keys(self.plan_delta, 1)
        self._cursor += 1
        errs: list[str] = []
        lat: list[float] = []
        planned: list[int] = []
        cpu0 = probe.tree_cpu_s()
        t_cycle = time.perf_counter()
        for key in lookups:
            with Op(ctx, "op.read_where", cpu=False) as op:
                df = self.table.read_where([("repo", "eq", key[0]), ("path", "eq", key[1])])
                rows = df.collect()
            lat.append(op.wall)
            errs += self._check_rows(key, rows, "read_where")
            if ctx.rec is not None:
                t0 = time.perf_counter()
                planned.append(len(df.inputFiles()))
                t_cycle += time.perf_counter() - t0  # not part of the cycle
        for key in source_keys:
            with Op(ctx, "op.source_lookup", cpu=False), self._source(ctx):
                rows = (
                    spark.read.format("panorama")
                    .load(root)
                    .filter((F.col("repo") == key[0]) & (F.col("path") == key[1]))
                    .collect()
                )
            errs += self._check_rows(key, rows, "format(panorama)")
        scans, observed = [], []
        for i in range(self.SCANS):
            obs = Observation(f"cdcperf_scan_{self._cursor}_{i}")
            with Op(ctx, "op.source_scan", cpu=False) as scan, self._source(ctx):
                (
                    spark.read.format("panorama")
                    .load(root)
                    .observe(obs, *oracle.digest_expr())
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
            scans.append(scan.wall)
            observed.append(obs)
        cycle = time.perf_counter() - t_cycle
        cpu = probe.tree_cpu_s() - cpu0
        for obs in observed:
            got = obs.get
            got = (int(got["n"]), int(got["h"] or 0))
            if got != self.want:
                errs.append(f"point_reads scan digest {got} != oracle {self.want}")
        n_ops = len(lookups) + len(source_keys) + self.SCANS
        return Sample(
            units=n_ops,
            wall=cycle,
            bulk_op=scans,
            latencies=lat,
            cpu_s=cpu,
            attempted=n_ops,
            errors=errs,
            ops=n_ops,
            extra={"files_planned": planned},
        )

    def _source(self, ctx: Ctx):
        """While tracing: the data-source layer span around an action."""
        if ctx.rec is None:
            return contextlib.nullcontext()
        return spans.layer(
            ctx.rec, "sources.panorama_datasource.action", ctx.spark.sparkContext, "sources.panorama_datasource"
        )


WORKLOADS = {w.name: w for w in (BulkReplay, StreamTail, PointReads)}
