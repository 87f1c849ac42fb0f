"""Two interleaved sets of benchmark runs, compared against the bounds.

    python3 cdcperf/stability.py --workload stream_tail --reps 5

Runs ``run.py`` 2 x ``--reps`` times, alternating set A and set B with a
new seed each run, so both sets see the same host conditions. Prints
per set each end-to-end metric's median and quartiles
(``statistics.quantiles(n=4)``), the spread (IQR / median) of all runs
against the metric's bound and a third of it, and whether set B's median
is within the bound of set A's in either direction. Runs are
``run_seconds`` of ``BENCHMARK.json`` long, at run.py's defaults. Each run's
micro-probe and load average are listed so a disagreement can be traced
to the host. Exits 1 if a run fails or a check does not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    host = next((json.loads(x[7:]) for x in lines if x.startswith("# host ")), {})
    host["run_wall_s"] = round(time.monotonic() - t0, 1)
    return json.loads(lines[-1]), host


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--reps", type=int, default=5, help="runs per set")
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets: dict[str, list[dict]] = {"A": [], "B": []}
    ok = True
    for i in range(args.reps):
        for j, name in enumerate("AB"):
            seed = args.seed0 + 2 * i + j
            try:
                res, host = run_once(args.workload, seed, seconds)
            except (RuntimeError, subprocess.TimeoutExpired) as exc:
                print(f"run failed: {exc}")
                ok = False
                continue
            if not res["correct"] or res["failed"]:
                ok = False
            sets[name].append(res["metrics"])
            print(
                f"set {name} seed {seed}: correct={res['correct']} failed={res['failed']} "
                f"wall {host.get('run_wall_s')}s (session {host.get('session_s')} prepare {host.get('prepare_s')} "
                f"builds {host.get('build_s')} warm-up {host.get('warmup_s')} samples {host.get('samples')}) "
                f"probe {host.get('probe_before_s')}->{host.get('probe_after_s')} "
                f"load {host.get('loadavg')} steal {host.get('steal_share')} | "
                + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                flush=True,
            )
    if min(len(v) for v in sets.values()) < 2:
        print("not enough runs to compare")
        return 1
    print(f"\n{args.workload}: {len(sets['A'])}+{len(sets['B'])} runs of {seconds}s")
    print(f"{'metric':18s} {'set':3s} {'q1':>11s} {'median':>11s} {'q3':>11s}")
    for name, m in metrics.items():
        bound = m["bound"]
        med = {}
        for s, runs in sets.items():
            vals = [r[name]["value"] for r in runs]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            med[s] = q2
            print(f"{name:18s} {s:3s} {q1:11.5g} {q2:11.5g} {q3:11.5g}")
        every = [r[name]["value"] for runs in sets.values() for r in runs]
        q1, q2, q3 = statistics.quantiles(every, n=4)
        spread = (q3 - q1) / q2
        worse = (med["B"] - med["A"]) / med["A"]
        if m["better"] == "higher":
            worse = -worse
        agree = abs(worse) <= bound
        ok = ok and agree and spread <= bound
        print(
            f"{'':18s} spread {spread:.4f} (bound {bound}{'' if spread <= bound else ' EXCEEDED'},"
            f" bound/3 {bound / 3:.4f}{'' if spread <= bound / 3 else ' exceeded'})"
            f" | B vs A worse by {worse:+.4f} (|.| <= {bound}) -> {'agree' if agree else 'DISAGREE'}"
        )
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
