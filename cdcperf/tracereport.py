"""Per-layer figures of a traced run, computed from the span recorder,
the counting FileIO and the Spark event-log jobs."""

from __future__ import annotations

import os
import statistics

import spans as spanlib

# The per-layer metrics every workload exercises; these go in the result
# line (BENCHMARK.json "per_layer"). Workload-specific layers are in the
# full report only.
COMMON = {
    "lakehouse.snapshot.resolve_s": "s",
    "lakehouse.snapshot.resolves_per_op": "count",
    "lakehouse.fileio.list_calls_per_op": "count",
    "lakehouse.fileio.read_calls_per_op": "count",
    "lakehouse.table.read_plan_s": "s",
    "lakehouse.table.physical_rows_per_live_row": "ratio",
    "lakehouse.table.space_amp": "ratio",
    "spark.executor_run_s_per_op": "s",
    "spark.tasks_per_op": "count",
    "spark.jobs_per_op": "count",
    "trace.unaccounted_share": "ratio",
    "trace.throughput_ratio": "ratio",
}


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def table_state(ctx, wl, last) -> dict:
    """Physical rows per live row and bytes on disk per live data byte
    of the table the last sample left (point_reads: the fixed table)."""
    from panorama_elt_spark.lakehouse import LakeTable

    root = last.extra.get("root") or wl.fixture
    snap = LakeTable.load(ctx.spark, root).snapshot
    live_rows = LakeTable.load(ctx.spark, root).read().count()
    phys = sum(f.rows for f in snap.files)
    data = sum(os.path.getsize(os.path.join(root, f.path)) for f in snap.files)
    disk = sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(root) for n in names
    )
    return {
        "physical_rows_per_live_row": phys / max(1, live_rows),
        "space_amp": disk / max(1, data),
    }


def _jobs_in(jobs, lo, hi):
    return [j for j in jobs if j["start"] >= lo - 0.005 and j["end"] <= hi + 0.005]


def build(rec, jobs, wl, samples, untraced, tables, io_calls) -> dict:
    """Everything per operation counts only what ran inside a traced
    operation's root span: spans below an ``op.*`` root and Spark jobs
    inside one. Untraced samples, restores and correctness checks run
    between the roots and are left out."""
    rec = rec.under_ops()
    selfs = rec.self_times()
    by_id = {s.id: s for s in rec.spans}
    roots = [s for s in rec.spans if s.name.startswith("op.") and s.end is not None]
    n_ops = sum(s.ops for s in samples)
    op_jobs = [j for j in jobs if any(_jobs_in([j], r.start, r.end) for r in roots)]

    names = sorted({s.name for s in rec.spans})
    span_table = {}
    for name in names:
        ss = rec.by_name(name)
        span_table[name] = {
            "count": len(ss),
            "wall_s": round(sum(s.wall for s in ss), 4),
            "self_s": round(sum(selfs[s.id] for s in ss), 4),
            "median_wall_s": round(_median(s.wall for s in ss), 5),
            "median_self_s": round(_median(selfs[s.id] for s in ss), 5),
        }

    def top_level(s):
        p = by_id.get(s.parent)
        return p is None or p.name not in ("lakehouse.snapshot.resolve",)

    resolves = [
        s
        for s in rec.spans
        if s.name in ("lakehouse.snapshot.resolve", "lakehouse.snapshot.read_version") and top_level(s)
    ]
    io = spanlib.fileio_totals(io_calls)
    tp = lambda ss: _median(s.units / s.wall for s in ss)  # noqa: E731
    kids = rec.children()

    def unaccounted_share(r):
        """Share of the operation's wall covered by no layer span and no
        Spark job."""
        cover = [(c.start, c.end) for c in kids.get(r.id, []) if c.end is not None]
        cover += [(j["start"], j["end"]) for j in _jobs_in(op_jobs, r.start, r.end)]
        return (r.wall - spanlib.union_length(cover, r.start, r.end)) / r.wall

    unaccounted = {}
    for name in sorted({r.name for r in roots}):
        unaccounted[name] = _median(unaccounted_share(r) for r in roots if r.name == name and r.wall > 0)

    per_layer = {
        "lakehouse.snapshot.resolve_s": _median(s.wall for s in rec.by_name("lakehouse.snapshot.resolve")),
        "lakehouse.snapshot.resolves_per_op": len(resolves) / n_ops,
        "lakehouse.fileio.list_calls_per_op": io["list"] / n_ops,
        "lakehouse.fileio.read_calls_per_op": io["read"] / n_ops,
        "lakehouse.table.read_plan_s": _median(s.wall for s in rec.by_name("lakehouse.table.read_plan")),
        "lakehouse.table.physical_rows_per_live_row": tables["physical_rows_per_live_row"],
        "lakehouse.table.space_amp": tables["space_amp"],
        "spark.executor_run_s_per_op": sum(j["executor_run_s"] for j in op_jobs) / n_ops,
        "spark.tasks_per_op": sum(j["tasks"] for j in op_jobs) / n_ops,
        "spark.jobs_per_op": len(op_jobs) / n_ops,
        "trace.unaccounted_share": _median(unaccounted_share(r) for r in roots if r.wall > 0),
        "trace.throughput_ratio": tp(samples) / tp(untraced) if untraced else 1.0,
    }
    layers = {}
    for j in op_jobs:
        agg = layers.setdefault(
            j["layer"], {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        )
        agg["jobs"] += 1
        for k in ("tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            agg[k] += j[k]
    spark_layers = {
        name: {k: (v / n_ops) for k, v in agg.items()} for name, agg in sorted(layers.items())
    }
    detail = {}
    if wl.name in ("bulk_replay", "stream_tail"):
        detail.update(_write_path(rec, selfs, wl, spark_layers, n_ops, io))
    if wl.name == "bulk_replay":
        detail.update(_replay_loop(rec, selfs))
    if wl.name == "stream_tail":
        detail.update(_stream(rec, samples, wl))
    if wl.name == "point_reads":
        detail.update(_reads(rec, samples, op_jobs))
    return {
        "per_layer": {k: {"value": float(v), "unit": COMMON[k]} for k, v in per_layer.items()},
        "layers": {**{k: round(float(v), 6) for k, v in per_layer.items()}, **detail},
        "spark_by_layer": spark_layers,
        "spans": span_table,
        "unaccounted_share_by_op": unaccounted,
        "throughput_untraced_per_s": tp(untraced) if untraced else None,
        "throughput_traced_per_s": tp(samples),
        "traced_ops": n_ops,
    }


def _write_path(rec, selfs, wl, spark_layers, n_ops, io) -> dict:
    merges = [s for s in rec.by_name("cdc.merge.merge_batch") if not s.info.get("skipped")]
    writes = rec.by_name("lakehouse.table.write")
    tot = lambda k: sum(s.info.get(k, 0) for s in merges)  # noqa: E731
    m = spark_layers.get("cdc.merge", {})
    bytes_written = sum(s.info.get("bytes", 0) for s in writes)
    return {
        "cdc.merge.batch_s": _median(s.wall for s in merges),
        "cdc.merge.self_s": _median(selfs[s.id] for s in merges),
        "cdc.merge.stats_s": _median(s.wall for s in rec.by_name("cdc.merge.stats")),
        "spark.merge.shuffle_write_bytes": m.get("shuffle_write_bytes", 0.0),
        "spark.merge.spill_bytes": m.get("spill_bytes", 0.0),
        "spark.merge.executor_run_s": m.get("executor_run_s", 0.0),
        "cdc.merge.rows_in": tot("rows_in") / n_ops,
        "cdc.merge.keys_in_batch": tot("keys_in_batch") / n_ops,
        "cdc.merge.buckets_touched": tot("buckets_touched") / n_ops,
        "cdc.merge.rows_upserted": tot("rows_upserted") / n_ops,
        "cdc.merge.rows_deleted": tot("rows_deleted") / n_ops,
        "cdc.merge.dedup_ratio": tot("keys_in_batch") / max(1, tot("rows_in")),
        "cdc.merge.strategies": sorted({s.info.get("strategy", "") for s in merges}),
        "lakehouse.table.write_s": _median(s.wall for s in writes),
        "lakehouse.table.files_written": sum(s.info.get("files", 0) for s in writes) / n_ops,
        "lakehouse.table.bytes_written": bytes_written / n_ops,
        "lakehouse.table.write_amp": bytes_written / n_ops / wl.inp["log_bytes"],
        "lakehouse.table.commit_s": _median(s.wall for s in rec.by_name("lakehouse.table.commit")),
        "lakehouse.snapshot.commit_cas_s": _median(
            s.wall for s in rec.by_name("lakehouse.snapshot.commit_cas")
        ),
        "lakehouse.fileio.write_calls_per_batch": io["write"] / max(1, len(merges)),
    }


def _replay_loop(rec, selfs) -> dict:
    """Replay wall, its self time, and the time the loop waited on the
    prefetched stats: for batch k, the part of [end of batch k-1's merge
    (or replay start), start of batch k's merge] before stats k ended."""
    replays = rec.by_name("cdc.engine.replay")
    waits = []
    for r in replays:
        kids = [s for s in rec.spans if s.parent == r.id and s.end is not None]
        merges = sorted((s for s in kids if s.name == "cdc.merge.merge_batch"), key=lambda s: s.start)
        stats = sorted((s for s in kids if s.name == "cdc.merge.stats"), key=lambda s: s.start)
        prev, wait = r.start, 0.0
        for k, mb in enumerate(merges):
            if k < len(stats):
                wait += max(0.0, min(stats[k].end, mb.start) - max(prev, stats[k].start))
            prev = mb.end
        waits.append(wait)
    return {
        "cdc.engine.replay_s": _median(s.wall for s in replays),
        "cdc.engine.loop_self_s": _median(selfs[s.id] for s in replays),
        "cdc.engine.prefetch_wait_s": _median(waits),
    }


def _stream(rec, samples, wl) -> dict:
    starts = rec.by_name("streaming.tail.query_start")
    overhead, epochs = [], []
    roots = [s for s in rec.spans if s.name == "op.stream_tail" and s.end is not None]
    for root, smp in zip(roots, samples):
        merges = sorted(
            (s for s in rec.spans if s.parent == root.id and s.name == "cdc.merge.merge_batch" and s.end),
            key=lambda s: s.start,
        )
        ep = smp.extra.get("epochs", [])
        epochs += ep
        overhead += [e - m.wall for e, m in zip(ep, merges)]
    n_epochs = len(epochs) / max(1, len(samples))
    n_files = len([n for n in os.listdir(wl.inp["log_dir"]) if n.endswith(".parquet")])
    return {
        "streaming.tail.query_start_s": _median(s.wall for s in starts),
        "streaming.tail.epochs": n_epochs,
        "streaming.tail.epoch_s": _median(epochs),
        "streaming.tail.epoch_overhead_s": _median(overhead),
        "streaming.tail.files_per_epoch": n_files / max(1e-9, n_epochs),
    }


def _reads(rec, samples, jobs) -> dict:
    planned = [x for s in samples for x in s.extra.get("files_planned", [])]
    bloom = rec.bloom
    actions = rec.by_name("sources.panorama_datasource.action")
    plan, exe, parts = [], [], []
    by_id = {s.id: s for s in rec.spans}
    for a in actions:
        js = _jobs_in(jobs, a.start, a.end)
        busy = spanlib.union_length([(j["start"], j["end"]) for j in js], a.start, a.end)
        plan.append(a.wall - busy)
        exe.append(busy)
        if by_id.get(a.parent) is not None and by_id[a.parent].name == "op.source_scan":
            parts.append(sum(j["tasks"] for j in js))
    return {
        "lakehouse.table.files_planned_per_lookup": _median(planned),
        "lakehouse.bloom.files_kept_frac": bloom["kept"] / bloom["candidates"] if bloom["candidates"] else None,
        "lakehouse.bloom.candidates": bloom["candidates"],
        "sources.panorama_datasource.plan_s": _median(plan),
        "sources.panorama_datasource.exec_s": _median(exe),
        "sources.panorama_datasource.partitions_per_scan": _median(parts),
    }


def print_table(report: dict) -> None:
    print("# layer report (medians per call; counts per measured operation)")
    for k, v in report["layers"].items():
        print(f"#   {k:48s} {v}")
    print("# span self time (union of children, clipped to the span)")
    print(f"#   {'span':40s} {'count':>6s} {'wall_s':>9s} {'self_s':>9s}")
    for k, v in report["spans"].items():
        print(f"#   {k:40s} {v['count']:6d} {v['wall_s']:9.3f} {v['self_s']:9.3f}")
    print("# unaccounted share of each end-to-end wall: " + ", ".join(
        f"{k}={v:.3f}" for k, v in report["unaccounted_share_by_op"].items()))
    ut, tt = report["throughput_untraced_per_s"], report["throughput_traced_per_s"]
    if ut:
        print(f"# tracing overhead: traced {tt:.3f}/s vs untraced {ut:.3f}/s (ratio {tt / ut:.3f})")
    if report.get("baseline_local1_throughput_per_s") is not None:
        print(f"# local[1] baseline throughput: {report['baseline_local1_throughput_per_s']:.1f}/s")
