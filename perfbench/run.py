#!/usr/bin/env python3
"""Ingest-spine and operator-lane benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_fresh --seed 1 --seconds 10 --trace 0

Builds the program and the harness (perfbench/build.sbt) on first use, runs
one workload in a fresh JVM (perfbench.Main), checks every lane output
against its DuckDB oracle, prints a summary, and prints the result as one
JSON object on the last line of stdout. Exits non-zero if any operation
failed or any output was wrong. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
ARCHIVE = os.path.join(TARGET, "perfbench-classes.jsa")
STAMP = os.path.join(TARGET, "perfbench-stamp.txt")
WORKLOADS = ["ingest_incremental", "lanes"]
JVM_DEADLINE_S = 150    # a run ends within 180 s: the JVM, then the oracles
BUILD_DEADLINE_S = 600  # the first run in a checkout also builds
# a fixed-size heap and young generation, so the resident set (peak_rss_mb)
# does not follow the collector's heap resizing
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC"]
# no hsperfdata file outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles program + harness with sbt; caches the runtime classpath."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    log("building program and harness with sbt")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", NO_PERF_DATA,
            f"-Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=max(60, deadline - time.time()))
    cp = [l.strip() for l in proc.stdout.splitlines()
          if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit("perfbench: build failed")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    train(cp[-1], deadline)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return cp[-1]


def java(cp, work, *flags):
    """The JVM command line every run uses, with its temp dirs under `work`."""
    return (["java", *JVM_MEMORY, NO_PERF_DATA, *flags,
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dgraft.oracle.dir={os.path.join(work, 'oracle')}",
             "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"])


def train(cp, deadline):
    """Class-data sharing: one untimed warm-up of every workload archives the
    classes a run loads; every measured run then maps the archive instead of
    loading and verifying them (session start ~8 s -> ~2 s). The classpath
    must be jars for this. A failed training only costs the speed-up."""
    log("archiving the classes a run loads")
    work = os.path.join(ROOT, ".perfbench_work", "train")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "oracle"):
        os.makedirs(os.path.join(work, d))
    with open(os.path.join(work, "train.log"), "w") as logf:
        proc = subprocess.Popen(
            java(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=off",
                 "-Xlog:cds+dynamic=off") + ["--train", "--work", work],
            cwd=ROOT, stdin=subprocess.DEVNULL, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(60, deadline - time.time()))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
                rc = -1
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------------------------------ oracle

def canon(df):
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def compare(got, exp):
    """Exact match after sorting columns by name and rows by all columns."""
    import numpy as np
    import pandas as pd
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns differ: {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
    g, e = canon(got), canon(exp)
    if len(g) != len(e):
        return f"row count {len(g)} vs oracle {len(e)}"
    for c in g.columns:
        if str(g[c].dtype) != str(e[c].dtype):
            return f"column {c}: dtype {g[c].dtype} vs oracle {e[c].dtype}"
        gv, ev = g[c], e[c]
        if pd.api.types.is_float_dtype(gv):
            ga, ea = gv.to_numpy(dtype=float), ev.to_numpy(dtype=float)
            ok = (ga == ea) | (np.isnan(ga) & np.isnan(ea))
        elif gv.dtype == object:
            ok = (gv.fillna("\0") == ev.fillna("\0")).to_numpy()
        else:
            ok = ((gv.isna() & ev.isna()) | (gv == ev)).to_numpy()
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} values differ from oracle"
    return None


def check_lanes(result):
    """Each lane's verified output against its DuckDB oracle; returns failures."""
    lanes = result.get("lanes", {})
    if not lanes:
        return []
    import duckdb
    con = duckdb.connect()
    tables = result["tables"]
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, t)}/*.parquet')")
    failures = []
    for q, lane in sorted(lanes.items()):
        if lane["oracle"] is None:
            failures.append(f"{q}: no oracle")
            continue
        t0 = time.time()
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{lane['out']}/*.parquet')").df()
            exp = con.execute(lane["oracle"]).df()
            problem = compare(got, exp)
        except Exception as ex:  # an oracle error is a failed check
            problem = f"oracle error {ex}"
        if problem:
            failures.append(f"{q}: {problem}")
        else:
            log(f"oracle ok {q} ({len(got)} rows, {time.time() - t0:.1f} s)")
    return failures


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-delay", type=int, help="self-test: ms slept in Connectors.extract")
    ap.add_argument("--inject-fail", action="store_true", help="self-test: break one input")
    args = ap.parse_args()

    start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) are missing")
    with open(spec_path) as fh:
        spec = json.load(fh)
    cp = build(start + BUILD_DEADLINE_S)
    t_run = time.time()

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "oracle"):
        os.makedirs(os.path.join(work, d))
    cds = ([f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off"]
           if os.path.exists(ARCHIVE) else [])
    cmd = java(cp, work, *cds) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if args.inject_delay:
        cmd += ["--inject-delay", str(args.inject_delay)]
    if args.inject_fail:
        cmd += ["--inject-fail"]
    logf = open(os.path.join(ROOT, ".perfbench_work", f"{args.workload}.log"), "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=logf,
                            stderr=subprocess.STDOUT)
    # a terminated front end takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: the workload did not finish in time")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        logf.close()
    result_path = os.path.join(work, "result.json")
    if not os.path.exists(result_path):
        raise SystemExit(f"perfbench: the JVM exited {rc} without a result; see {logf.name}")
    with open(result_path) as fh:
        result = json.load(fh)

    t_jvm = time.time()
    failures = list(result["failures"]) + check_lanes(result)
    attempted = int(result["attempted"]) + len(result.get("lanes", {}))
    failed = int(result["failed"]) + (len(failures) - len(result["failures"]))
    correct = not failures and rc == 0

    ctx = result["context"]
    log(f"workload {args.workload} seed {args.seed}: {ctx['master']} on {ctx['nproc']} cores, "
        f"heap {ctx['heap_max_mb']:.0f} MB, session start {ctx['session_start_s']:.2f} s, "
        f"{ctx['iterations']} timed iterations (+{ctx['traced_iterations']} traced), "
        f"outputs under .perfbench_work/{ctx['output_dir']}; build check {t_run - start:.1f} s, "
        f"JVM {t_jvm - t_run:.1f} s, oracles {time.time() - t_jvm:.1f} s")
    log(f"steal % per iteration {['%.1f' % x for x in ctx['steal_pct']]}, "
        f"load1 {['%.2f' % x for x in ctx['load1']]}")
    for f in failures:
        log(f"FAILED {f}")
    if args.trace:
        kind, values = "per_layer", result["layers"]
        for k, v in sorted(result.get("lane_details", {}).items()):
            log(f"{k} = {v:.4f}")
        for q, mods in sorted(result.get("lane_modules", {}).items()):
            log(f"lane.{q} modules {mods}")
    else:
        kind, values = "end_to_end", result["e2e"]
        log(f"failed_ratio = {failed / max(attempted, 1):.4f} ratio ({failed}/{attempted})")
        for k, v in sorted(result.get("op_wall_s", {}).items()):
            log(f"op {k}: median wall {v:.3f} s")
    metrics = {}
    for m in spec[kind]:
        v = values.get(m["name"])
        metrics[m["name"]] = {"value": v if v is not None else float("nan"), "unit": m["unit"]}
        log(f"{m['name']} = {metrics[m['name']]['value']} {m['unit']}")

    for d in ("in", "out", "tmp", "oracle", "spark-local", "small", "spark-warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
