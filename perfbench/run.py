#!/usr/bin/env python3
"""graft batch benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
benchmark JVM with sbt (cached under perfbench/target until a source changes);
every run then generates its inputs from --seed, drives the workload's
job mix in one JVM on local[N] (N = min(4, cpus)), checks every job's
output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) of BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "target", "bench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("nightly_batch", "corpus_graph")
# Inputs: star/corpus tables at sf 0.01 (the reference's sf0.1 domains and
# date span at a tenth of its rows), the ODS loop and the link graph.
SF = 0.01
ODS = {"n_keys": 20_000, "n_days": 1, "per_day": 2_000, "n_users": 500}
GRAPH = {"n_edges": 110_000, "n_nodes": 30_000, "n_shares": 110_000}
DEADLINE_S = 170
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

E2E = {"batch_s": "s", "job_p50_s": "s", "setup_s": "s", "cpu_s": "s",
       "bytes_written_mb": "MB", "heap_after_gc_peak_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the repository root."""
    roots = ["src/main", "perfbench/src", "project/build.properties",
             "build.sbt", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    out = []
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            out.append(r)
        for d, _, fs in os.walk(p):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(out)


def build():
    """Compile library + benchmark once per source state; return the classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    if os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.override.build.repos=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return lines[-1]


def run_jvm(cp, args, deadline):
    jtmp = os.path.join(WORK, "jvm_tmp")
    os.makedirs(jtmp, exist_ok=True)
    # A fixed 128 MB young generation makes G1 collect at least every
    # 128 MB allocated, so heap_after_gc_peak_mb sees the ODS merge's peak
    # in every run. G1's adaptive eden grew to ~700 MB on nightly_batch, and
    # whether a collection fell inside that peak was then chance.
    cmd = (["java", "-Xmx3g", "-Xmn128m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={jtmp}",
            f"-Dderby.system.home={jtmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={jtmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(jtmp, 'warehouse')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, GRAFT_TMP_DIR=os.path.join(WORK, "graft_tmp"))
    p = subprocess.Popen(cmd, cwd=jtmp, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: JVM exceeded the run deadline")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft", "scripts/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} missing; run from a graft checkout")

    cp = build()
    deadline = time.time() + DEADLINE_S  # a first run may also spend a build
    data, out = os.path.join(WORK, "data"), os.path.join(WORK, "out")
    for d in (out, os.path.join(WORK, "graft_tmp"), os.path.join(WORK, "jvm_tmp")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    gen.generate(data, a.seed, SF, ODS, GRAPH)
    log(f"inputs for seed {a.seed} generated in {time.time() - t0:.1f} s")

    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cpus = str(min(4, os.cpu_count() or 1))
    rc = run_jvm(cp, ["--workload", a.workload, "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--cpus", cpus, "--data", data,
                      "--out", out, "--result", result], deadline)
    log(f"benchmark JVM ran {time.time() - t0:.1f} s")
    if rc != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    res = json.load(open(result))

    # correctness: a job whose published output is wrong fails every pass;
    # a job that read a memo entry measured work an earlier job paid for
    t0 = time.time()
    wrong = checks.check_outputs(a.workload, res, data, out, ODS, ROOT)
    log(f"outputs checked in {time.time() - t0:.1f} s")
    for name, why in sorted(wrong.items()):
        log(f"WRONG OUTPUT {name}: {why}")
    runs = [j for p in res["passes"] + res["traced_passes"] for j in p["jobs"]]
    runs += res["traced_only"]
    bad = [j for j in runs
           if j["error"] or j["name"] in wrong or j["memo_reads"] > 0]
    ok_times = [j["seconds"] for p in res["passes"] for j in p["jobs"]
                if j not in bad]
    passes = res["passes"]
    per_job = {}
    for p in passes:
        for j in p["jobs"]:
            per_job.setdefault(j["name"], []).append(j["seconds"])
    log("job medians: " + ", ".join(f"{n} {median(v):.2f}s" for n, v in per_job.items()))

    if a.trace == 0:
        vals = {
            "batch_s": median([p["batch_s"] for p in passes]),
            "job_p50_s": median(ok_times),
            "setup_s": res["setup_s"],
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "bytes_written_mb": median([p["bytes_written_mb"] for p in passes]),
            "heap_after_gc_peak_mb": median([p["heap_after_gc_peak_mb"] for p in passes]),
        }
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in vals.items()}
        log(f"{len(passes)} timed passes, {len(ok_times)} job samples, "
            f"{sum(j['memo_reads'] for j in runs):.0f} memo reads; "
            "batch_s/cpu_s/bytes/heap are medians over passes, setup_s is "
            "one sample, job_p50_s is over job samples")
    else:
        metrics = checks.layer_metrics(res)
    for k, m in metrics.items():
        log(f"  {k:32s} {m['value']:12.4f} {m['unit']}")
    print(json.dumps({"correct": not bad, "attempted": len(runs),
                      "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
