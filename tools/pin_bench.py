#!/usr/bin/env python3
"""Regenerate bench_full_pins.json from a BENCH_FULL artifact.

Usage:
  python3 tools/pin_bench.py BENCH_FULL_rN.json [PINS] > pins.new
  mv pins.new bench_full_pins.json

Reads the LAST JSON line carrying a "queries" map (graft.Bench's compact
tail line) and emits {query: median_sec} sorted by name, followed by the
`sweep:<lane>` shuffle allowances carried over unchanged from the current
pins file PINS (default: bench_full_pins.json beside tools/). Allowances
are hand-written, root-caused entries that no artifact carries, so
dropping them would silently re-arm a documented sweep breach.

Redirect to a new file, not onto PINS itself: the shell truncates the
target before this script can read its allowances, so an empty PINS is
refused. Run after an intentional performance change so the >2x budget
gate in graft.Bench tracks the new expectation — always in the SAME
commit as the change it blesses.
"""
import json
import os
import sys

path = sys.argv[1]
pins_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "bench_full_pins.json")

last = None
with open(path) as f:
    for line in f:
        line = line.strip()
        if not line.startswith("{"):
            # sbt prefixes stdout with "[info] "
            idx = line.find("{")
            if idx < 0:
                continue
            line = line[idx:]
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(d, dict) and "queries" in d:
            last = d
if last is None:
    sys.exit(f"no JSON line with a 'queries' map in {path}")

allowances = {}
if os.path.exists(pins_path):
    with open(pins_path) as f:
        text = f.read()
    if not text.strip():
        sys.exit(f"{pins_path} is empty (was it the target of this script's "
                 "own redirect?); its sweep: allowances would be lost")
    allowances = {k: v for k, v in json.loads(text).items()
                  if k.startswith("sweep:")}

pins = dict(sorted(last["queries"].items()))
pins.update(allowances)
print(json.dumps(pins, indent=1))
