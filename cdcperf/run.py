"""CDC benchmark entry point.

    python3 cdcperf/run.py --workload bulk_replay|stream_tail|point_reads \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Builds its inputs
from the seed, sets up a Spark session and the workload's fixture,
runs untimed full-size warm-up passes, then measures closed-loop samples
for ``--seconds`` (and at least the workload's minimum of samples) and
prints one JSON result as the last stdout line. With ``--trace 1``
samples alternate untraced (the overhead reference) and traced (layer
spans, a counting FileIO, the Spark event log); the result then carries
the per-layer metrics, and a ``# trace`` line holds the full layer
report.

Every result is checked against the DuckDB LWW oracle; a wrong result
exits 1. All files live in one work directory inside the checkout,
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_PARENT = os.path.join(ROOT, ".cdcperf_work")
MIN_FREE_GB = 2.0
DRIVER_MEM = "2g"


def fail(msg: str, code: int = 2) -> None:
    print(f"cdcperf: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="Spark task slots (default: nproc - 1)")
    ap.add_argument("--scale", default="full", help="input sizes: full | tiny")
    ap.add_argument(
        "--single-pass", action="store_true", help="one warm-up pass and one sample (the local[1] baseline)"
    )
    return ap.parse_args(argv)


def start_spark(work: str, cores: int, trace: bool):
    from panorama_elt_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="cdcperf", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under this one, and
    wait until they have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
    except Exception:  # a broken gateway (signal mid-call) must not leave the JVM running
        pass
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    import probe

    deadline = time.monotonic() + 10
    while True:
        rest = [p for p in probe.process_tree() if p != os.getpid()]
        if not rest:
            break
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def summarize(samples, wl, setup_s: float, peak_mb: float) -> dict:
    good = [s for s in samples if s.failed == 0]
    tps = [s.units / s.wall for s in good]
    _, p50, p75 = statistics.quantiles([x for s in good for x in s.latencies], n=4, method="inclusive")
    units = sum(s.units for s in good)
    cpu = sum(s.cpu_s for s in good)
    return {
        "throughput_per_s": {"value": statistics.median(tps), "unit": "1/s"},
        "latency_p50_s": {"value": p50, "unit": "s"},
        "latency_p75_s": {"value": p75, "unit": "s"},
        "bulk_op_s": {"value": statistics.median([x for s in good for x in s.bulk_op]), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s_per_unit": {"value": cpu / units * wl.unit_scale, "unit": "s"},
        "peak_mem_mb": {"value": peak_mb, "unit": "MB"},
    }


def measure(ctx, wl, seconds: float, counts: dict, errors: list, toggle=None, min_samples=1) -> list:
    """Closed loop: samples until ``seconds`` have passed (at least one;
    no new sample starts with less than half a sample's time left).
    With ``toggle``, ``toggle(i)`` runs before sample i and the loop also
    takes at least two samples of each kind (traced runs alternate)."""
    out = []
    t_end = time.monotonic() + seconds
    i = 0
    while True:
        t0 = time.monotonic()
        if toggle is not None:
            toggle(i)
        try:
            s = wl.sample(ctx)
        except Exception as exc:  # an operation that raised is a failed attempt
            counts["attempted"] += 1
            counts["failed"] += 1
            errors.append(f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}")
            s = None
        if s is not None:
            counts["attempted"] += s.attempted
            counts["failed"] += s.failed
            errors.extend(s.errors)
            s.traced = ctx.rec is not None
            out.append(s)
        i += 1
        now = time.monotonic()
        last = now - t0
        # stop at the deadline, or when less than half a sample is left,
        # once the workload's minimum of samples is in
        if now + last / 2 >= t_end and i >= (4 if toggle else min_samples):
            break
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    knobs = sorted(k for k in os.environ if k.startswith("PANORAMA_"))
    if knobs:
        fail(f"refusing to run with program knobs set ({', '.join(knobs)}); the benchmark measures defaults")
    if not os.path.isdir(os.path.join(ROOT, "panorama_elt_spark")):
        fail(f"no panorama_elt_spark package under {ROOT}; run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    import gen
    import probe
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    if args.scale not in gen.SIZES:
        fail(f"unknown scale {args.scale!r}")
    try:
        import panorama_elt_spark  # noqa: F401
    except ImportError as exc:
        fail(f"cannot import the program: {exc}")

    os.makedirs(WORK_PARENT, exist_ok=True)
    st = os.statvfs(WORK_PARENT)
    free_gb = st.f_bavail * st.f_frsize / 2**30
    if free_gb < MIN_FREE_GB:
        fail(f"only {free_gb:.1f} GiB free under {WORK_PARENT}; need {MIN_FREE_GB}")
    work = os.path.join(WORK_PARENT, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))

    def on_signal(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM: no perf-data file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable

    spark = None
    try:
        # nproc - 1 slots leave a core to the driver, GC and JIT threads;
        # measured as fast as nproc and less exposed to one slow vCPU
        cores = args.cores or max(1, len(os.sched_getaffinity(0)) - 1)
        sizes = gen.SIZES[args.scale]
        wl = workloads.WORKLOADS[args.workload]()
        probe_before = probe.micro_probe()

        t0 = time.perf_counter()
        spark = start_spark(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, work, sizes, args.seed)
        t0 = time.perf_counter()
        wl.prepare(ctx)  # inputs and oracle: the benchmark's own work, untimed
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.setup(ctx)
        build_s = time.perf_counter() - t0 - getattr(wl, "untimed_s", 0.0)
        t0 = time.perf_counter()
        counts = {"attempted": 0, "failed": 0}
        errors: list[str] = []
        # untimed full-size passes of the measured path
        passes = 1 if args.single_pass else wl.warmup_passes
        warm = measure(ctx, wl, 0, {"attempted": 0, "failed": 0}, errors, min_samples=passes)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + build_s + warmup_s
        box = probe.box_descriptor(ROOT, work, spark)
        box.update(workload=args.workload, seed=args.seed, cores=cores, scale=args.scale)
        print("# box " + json.dumps(box), flush=True)

        stat0, cpu_pss = probe.cpu_times(), probe.PeakPss().start()
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Recorder()
            ctx.fileio = spans.counting_fileio(tracer.in_op)
            undo = []

            def toggle(i: int) -> None:
                """Odd samples traced, even samples untraced."""
                if i % 2:
                    undo.extend(spans.install(tracer, spark.sparkContext))
                    ctx.rec = tracer
                else:
                    spans.uninstall(undo)
                    undo.clear()
                    ctx.rec = None
                if hasattr(wl, "retable"):
                    wl.retable(ctx)

            both = measure(ctx, wl, args.seconds, counts, errors, toggle)
            toggle(0)
            samples = [s for s in both if s.traced]
            untraced = [s for s in both if not s.traced]
        else:
            samples = measure(
                ctx, wl, args.seconds, counts, errors, min_samples=1 if args.single_pass else wl.min_samples
            )
        peak_mb = cpu_pss.stop()
        shares = probe.cpu_shares(stat0, probe.cpu_times())
        if not samples:
            errors.append("no sample completed")
        metrics = summarize(samples, wl, setup_s, peak_mb) if samples and not args.trace else {}

        per_layer, report = {}, None
        if args.trace and samples:
            import tracereport

            tables = tracereport.table_state(ctx, wl, samples[-1])
        correct = not errors and bool(samples) and bool(warm)
        host = {
            "session_s": round(session_s, 3),
            "prepare_s": round(prepare_s, 3),
            "build_s": round(build_s, 3),
            "warmup_s": round(warmup_s, 3),
            "samples": len(samples),
            "latency_samples": sum(len(s.latencies) for s in samples),
            "loadavg": probe.loadavg(),
            **shares,
        }
        stop_spark(spark)
        spark = None
        if args.trace and samples:
            report = tracereport.build(
                tracer, spans.spark_jobs(os.path.join(work, "eventlog")), wl, samples, untraced, tables, ctx.fileio.calls
            )
            if args.workload == "bulk_replay":
                report["baseline_local1_throughput_per_s"] = local1_baseline(args)
            per_layer = report.pop("per_layer")
        host["probe_before_s"] = round(probe_before, 4)
        host["probe_after_s"] = round(probe.micro_probe(), 4)
        print("# host " + json.dumps(host), flush=True)
        for e in errors[:20]:
            print("# error " + e, flush=True)
        if report is not None:
            print("# trace " + json.dumps(report, default=float), flush=True)
            tracereport.print_table(report)
        result = {
            "correct": correct,
            "attempted": max(1, counts["attempted"]),
            "failed": counts["failed"],
            "metrics": per_layer if args.trace else metrics,
        }
        print(json.dumps(result), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_PARENT)
        except OSError:
            pass


def local1_baseline(args) -> float | None:
    """Untraced ``local[1]`` pass of bulk_replay in a child process."""
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload", "bulk_replay",
        "--seed", str(args.seed),
        "--seconds", "0",
        "--trace", "0",
        "--cores", "1",
        "--scale", args.scale,
        "--single-pass",
    ]
    try:
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=150)
        return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["throughput_per_s"]["value"]
    except (subprocess.TimeoutExpired, ValueError, IndexError, KeyError):
        return None


if __name__ == "__main__":
    sys.exit(main())
