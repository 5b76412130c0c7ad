#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload agent --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources together with the harness in perfbench/src (sbt, offline) and
keeps the classpath under perfbench/out/build; later runs start the JVM
directly. Each run generates its tables from the seed, gives the JVM a
fresh working directory (so graft's graph layout and DiskCache artifacts
are built cold inside set-up), checks every answer with checks.py and
prints one JSON line last:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and keeps the spans in perfbench/out/trace/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import ops as opsmod  # noqa: E402
import traces  # noqa: E402

WORKLOADS = {
    # workload: (scale factor of its tables, fewest timed rounds)
    "agent": (0.02, 3),
    "analytics": (0.02, 2),
}
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/**/*", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; returns the runtime classpath."""
    bdir = os.path.join(OUT, "build")
    cp_file = os.path.join(bdir, f"classpath-{sources_hash()}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: compiling graft and the harness (sbt) ...")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, workload, data, out, seconds, min_rounds, trace):
    work = os.path.join(out, "work")
    os.makedirs(work)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}/spark-local",
            "-cp", cp, "perfbench.Main", workload, data, out, str(seconds),
            str(min_rounds), str(trace)]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    return rc


def end_to_end(m):
    ok = [o["ms"] for o in m["ops"] if o["ok"]]
    return {
        "setup_s": (m["setup_s"], "s"),
        "heap_live_mb": (m["heap_live_mb"], "MB"),
        # geometric mean, not median: the calls of a round cluster by
        # kind, so the median falls in a gap between two kinds and swings
        # with whichever borders it
        "op_geomean_ms": (math.exp(statistics.fmean(map(math.log, ok))), "ms"),
        "ops_per_s": (len(ok) / m["timed_s"], "1/s"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (tables, answers, logs); "
                         "it is always kept when a check fails")
    ap.add_argument("--write-steps", type=int, default=opsmod.WRITE_STEPS,
                    help="write steps per agent round (longer sessions show "
                         "the read-back cost growing with each write)")
    a = ap.parse_args()
    if not (os.path.isfile(f"{ROOT}/build.sbt") and
            os.path.isdir(f"{ROOT}/src/main/scala/graft")):
        log(f"perfbench: no graft sources next to {HERE}; run from a graft checkout")
        return 2
    cp = build()
    run = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data = os.path.join(run, "data")
    sf, min_rounds = WORKLOADS[a.workload]
    datagen.write(data, a.seed, sf)
    op_lines = opsmod.make(a.workload, data, a.seed, a.write_steps)
    opsmod.write(os.path.join(run, "ops.tsv"), op_lines)
    rc = run_jvm(cp, a.workload, data, run, a.seconds, min_rounds, a.trace)
    mfile = os.path.join(run, "measure.json")
    if rc != 0 or not os.path.exists(mfile):
        log(f"perfbench: JVM exited with {rc}; log tail:")
        with open(os.path.join(run, "jvm.log")) as fh:
            log(fh.read()[-3000:])
        return 1
    with open(mfile) as fh:
        m = json.load(fh)
    attempted = len(m["ops"])
    failed = sum(1 for o in m["ops"] if not o["ok"])
    for e in m["errors"]:
        log("perfbench: error:", e)
    cache = os.path.join(OUT, "oracle-cache")
    lines = [[int(l[0])] + [str(x) for x in l[1:]] for l in op_lines]
    if a.workload == "agent":
        errs = checks.check_agent(data, run, lines)
    else:
        errs = checks.check_batch(data, run, cache, m["ops"])
    for e in errs[:20]:
        log("perfbench: check failed:", e)
    correct = not errs and not m["errors"] and attempted > 0
    e2e = end_to_end(m)
    if a.trace:
        tdir = os.path.join(OUT, "trace")
        os.makedirs(tdir, exist_ok=True)
        base = os.path.join(tdir, f"{a.workload}-seed{a.seed}")
        shutil.copy(os.path.join(run, "spans.jsonl"), base + ".spans.jsonl")
        metrics, summary = traces.per_layer(m, os.path.join(run, "spans.jsonl"))
        summary["end_to_end_traced"] = {k: v for k, (v, _) in e2e.items()}
        with open(base + ".summary.json", "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
    else:
        metrics = e2e
    if correct and not a.keep:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
