"""The benchmark's own tests.

    python3 -m pytest cdcperf -q

Generator determinism, the LWW oracle on a hand-computed log, span
self-time arithmetic with overlapping children on two threads, the
restriction of traced figures to operation roots, the refusal paths, and a tiny-scale run of each workload with its
correctness checks on.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402


def _tables(d: str) -> dict:
    return {
        os.path.relpath(os.path.join(p, n), d): pq.read_table(os.path.join(p, n))
        for p, _, names in os.walk(d)
        for n in sorted(names)
    }


@pytest.mark.parametrize("make", [gen.bulk_inputs, gen.tail_inputs])
def test_inputs_are_a_function_of_the_seed(tmp_path, make):
    sz = gen.SIZES["tiny"]
    a = make(7, sz, str(tmp_path / "a"))
    b = make(7, sz, str(tmp_path / "b"))
    c = make(8, sz, str(tmp_path / "c"))
    ta, tb, tc = (_tables(str(tmp_path / x)) for x in "abc")
    assert ta.keys() == tb.keys() and ta
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert a["events"] == b["events"]
    assert not all(ta[k].equals(tc[k]) for k in ta)
    assert c["events"] > 0


def test_bulk_backlog_covers_whole_aligned_batches(tmp_path):
    sz = gen.SIZES["tiny"]
    inp = gen.bulk_inputs(3, sz, str(tmp_path))
    lsn = pa.concat_tables(_tables(inp["log_dir"]).values()).column("lsn").to_numpy()
    bs, start = inp["batch_size"], inp["fixture"].lsn_start
    assert start % bs == 0 and lsn.min() == start
    assert (lsn.max() - start) // bs + 1 == sz.bulk_batches


def _log(path: str, rows: list[tuple]) -> str:
    cols = ["lsn", "op", "repo", "path", "commit", "lang", "content"]
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), path)
    return path


def test_oracle_lww_on_hand_computed_log(tmp_path):
    # key a: U@5 beats U@2 although it arrives first; duplicate U@5 delivered twice
    # key b: I@1, D@3, re-inserted U@6 -> live with the U@6 row
    # key c: I@4, D@7 -> gone; key d: a delete of a key never written -> gone
    rows = [
        (5, "U", "r", "a", "a5", "py", "x"),
        (2, "U", "r", "a", "a2", "py", "x"),
        (5, "U", "r", "a", "a5", "py", "x"),
        (6, "U", "r", "b", "b6", "md", "y"),
        (3, "D", "r", "b", None, None, None),
        (1, "I", "r", "b", "b1", "md", "y"),
        (7, "D", "r", "c", None, None, None),
        (4, "I", "r", "c", "c4", "sql", "z"),
        (8, "D", "r", "d", None, None, None),
    ]
    f = _log(str(tmp_path / "log.parquet"), rows)
    got = oracle.rows_by_key(oracle.lww_state([f]))
    assert got == {
        ("r", "a"): ("r", "a", "a5", "py", "x"),
        ("r", "b"): ("r", "b", "b6", "md", "y"),
    }


def test_oracle_merges_several_globs(tmp_path):
    os.makedirs(tmp_path / "base")
    os.makedirs(tmp_path / "log")
    _log(str(tmp_path / "base/p.parquet"), [(0, "I", "r", "a", "a0", "py", "x")])
    _log(str(tmp_path / "log/p.parquet"), [(1, "D", "r", "a", None, None, None)])
    state = oracle.lww_state([str(tmp_path / "base/*.parquet"), str(tmp_path / "log/*.parquet")])
    assert state.num_rows == 0


def test_union_length_counts_overlap_once():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10)], 2, 4) == 2
    assert spans.union_length([]) == 0


def test_self_time_with_overlapping_children_on_two_threads():
    rec = spans.Recorder()
    replay = rec.open("cdc.engine.replay")
    opened = {}

    def prefetch():
        opened["stats"] = rec.open("cdc.merge.stats")
        rec.close(opened["stats"])

    t = threading.Thread(target=prefetch)
    t.start()
    t.join()
    merge = rec.open("cdc.merge.merge_batch")
    write = rec.open("lakehouse.table.write")
    rec.close(write)
    rec.close(merge)
    rec.close(replay)
    stats = opened["stats"]
    # the prefetch span, opened on another thread, belongs to the replay
    assert stats.parent == replay.id and merge.parent == replay.id
    assert write.parent == merge.id
    # now pin the intervals: stats [1, 4] overlaps merge [2, 6] inside replay [0, 10]
    replay.start, replay.end = 0.0, 10.0
    stats.start, stats.end = 1.0, 4.0
    merge.start, merge.end = 2.0, 6.0
    write.start, write.end = 3.0, 5.0
    selfs = rec.self_times()
    assert selfs[replay.id] == pytest.approx(10 - 5)  # union [1, 6]
    assert selfs[merge.id] == pytest.approx(4 - 2)
    assert selfs[stats.id] == pytest.approx(3)
    assert selfs[write.id] == pytest.approx(2)


def test_only_spans_under_operation_roots_count():
    rec = spans.Recorder()
    rec.close(rec.open("lakehouse.snapshot.resolve"))  # table load before the op
    assert not rec.in_op()
    op = rec.open("op.bulk_replay")
    assert rec.in_op()
    merge = rec.open("cdc.merge.merge_batch")
    inner = rec.open("lakehouse.snapshot.resolve")
    rec.close(inner)
    rec.close(merge)
    rec.close(op)
    rec.close(rec.open("lakehouse.table.read_plan"))  # correctness check after it
    assert not rec.in_op()
    kept = rec.under_ops()
    assert [s.id for s in kept.spans] == [op.id, merge.id, inner.id]
    assert len(kept.by_name("lakehouse.snapshot.resolve")) == 1
    assert kept.by_name("lakehouse.table.read_plan") == []


def _run(args, cwd=ROOT, env=None, timeout=240):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_refuses_program_knobs():
    env = dict(os.environ, PANORAMA_BLOOM="0")
    out = _run(["--workload", "bulk_replay", "--seed", "1", "--seconds", "1"], env=env)
    assert out.returncode != 0 and out.stdout == ""


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "cdcperf", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "cdcperf/run.py", "--workload", "bulk_replay", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""


@pytest.mark.parametrize("workload", ["bulk_replay", "stream_tail", "point_reads"])
def test_tiny_run_is_correct(workload):
    out = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--scale", "tiny"])
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["end_to_end"]}
    assert set(res["metrics"]) == names
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_tiny_traced_run_reports_layers():
    out = _run(
        ["--workload", "stream_tail", "--seed", "5", "--seconds", "1", "--scale", "tiny", "--trace", "1"]
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    assert res["correct"] is True and set(res["metrics"]) == names
    report = json.loads(next(x for x in lines if x.startswith("# trace "))[8:])
    for k in ("cdc.merge.batch_s", "streaming.tail.epoch_s", "lakehouse.table.write_s"):
        assert report["layers"][k] > 0
