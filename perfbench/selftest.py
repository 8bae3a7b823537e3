#!/usr/bin/env python3
"""Self-test of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py

1. An injected failure (one input broken after set-up) must be counted in
   `failed` and make the benchmark exit non-zero, on both workloads.
2. An injected bench-side delay around `Connectors.extract` (slept inside the
   bench's connector, so it lands in the real Runner.run and in the replay)
   must move `pipeline.Connectors.extract_s` by about the delay and the
   other replayed layers by less than a third of it, move the Runner's
   driver gap and `wall_s` on `ingest_incremental`, and leave `wall_s` on
   `lanes` (which never calls that connector) within noise.

Takes about ten minutes; prints PASS/FAIL per check and exits non-zero on
any FAIL.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DELAY_MS = 3000
SEED = 7


def bench(workload, trace, *extra):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), *extra],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    return p.returncode, res


def value(res, name):
    return res["metrics"][name]["value"]


def main():
    ok = True

    def check(cond, what):
        nonlocal ok
        ok &= bool(cond)
        print(f"{'PASS' if cond else 'FAIL'} {what}", flush=True)

    for w in ("ingest_incremental", "lanes"):
        rc, res = bench(w, 0, "--inject-fail")
        check(rc != 0 and res is not None and res["failed"] >= 1 and not res["correct"],
              f"{w}: injected failure gives exit {rc} and failed={res and res['failed']}")

    delay = str(DELAY_MS)
    total = 2 * DELAY_MS / 1000  # one extract call per connector shape
    _, base = bench("ingest_incremental", 1)
    _, slow = bench("ingest_incremental", 1, "--inject-delay", delay)
    # the replayed layer calls; the Runner's own driver gap moves as well,
    # since the sleep is driver time inside Runner.run
    layers = [k for k in base["metrics"] if k.endswith("_s") and k.split(".")[1] in
              ("HttpSource", "Connectors", "ProvenanceStore", "BlobStore", "CaptureSink")]
    deltas = {k: value(slow, k) - value(base, k) for k in layers}
    top = max(deltas, key=lambda k: deltas[k])
    rest = max(abs(v) for k, v in deltas.items() if k != top)
    check(top == "pipeline.Connectors.extract_s" and deltas[top] > 0.75 * total and rest < total / 3,
          f"ingest_incremental: the delay lands on {top} (+{deltas[top]:.2f} s of {total:.1f} s); "
          f"other layers moved {rest:.2f} s at most")
    gap = value(slow, "pipeline.Runner.driver_gap_s") - value(base, "pipeline.Runner.driver_gap_s")
    check(gap > 0.75 * total, f"ingest_incremental: pipeline.Runner.driver_gap_s moved {gap:+.2f} s")

    for w, moves in (("ingest_incremental", True), ("lanes", False)):
        _, b = bench(w, 0)
        _, s = bench(w, 0, "--inject-delay", delay)
        d = value(s, "wall_s") - value(b, "wall_s")
        if moves:
            check(d > 0.75 * total, f"{w}: wall_s moved {d:+.2f} s with the delay")
        else:
            check(abs(d) < 0.25 * value(b, "wall_s"), f"{w}: wall_s moved {d:+.2f} s, within its bound")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
