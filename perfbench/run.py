#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its metrics.

    python3 perfbench/run.py --workload scan|dml|commits --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
benchmark with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. Every metric is printed by name with its
unit; the last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). A failed correctness
check exits non-zero without printing a result. Each run also keeps a
self-describing record (cpus, git sha, seed, heap, timestamp) under
.bench_build/perfbench/results/, one file per run.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RESULTS = os.path.join(BUILD, "results")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# root build's forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    # resolve only from the local caches: the build must never go online
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    opts = [o for o in opts if not o.startswith("-Xmx")] + ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and not any("sbt.repository.config" in o for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log, "a") as out:
        out.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        tail = "".join(open(log).readlines()[-30:])
        fail(f"build failed (exit {p.returncode}); last lines of {log}:\n{tail}")
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def git_sha():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def finite(v):
    return isinstance(v, (int, float)) and math.isfinite(v)


def main():
    # a terminated run still stops and reaps its JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("graft's sources (build.sbt, src/main/scala) are not in this checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out,
              "--cpus", str(cpus)])
    log = os.path.join(work, "run.log")
    started = time.time()
    with open(log, "w") as fh:
        # Spark lets SPARK_LOCAL_DIRS override spark.local.dir; keep its
        # scratch files in the checkout either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 3)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        lines = open(log, errors="replace").readlines()
        checks = [l for l in lines if l.startswith("CHECK FAILED")]
        fail(f"run failed (exit {code}); see {log}\n" + "".join(checks or lines[-40:]), 1)
    with open(out) as fh:
        res = json.load(fh)

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        got = (res.get(section) or {}).get(m["name"])
        if got is None or not finite(got["value"]) or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or malformed: {got}", 1)
        if section == "end_to_end" and got["value"] <= 0:
            fail(f"metric {m['name']} is {got['value']}, expected > 0", 1)
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}

    stamp_ts = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime(started))
    res["info"].update({
        "git_sha": git_sha(), "cpus": cpus, "timestamp": stamp_ts,
        "data": "generated from the seed (perfbench/src/main/scala/perfbench/Data.scala)",
        "work_dir": os.path.relpath(work, ROOT), "run_wall_s": time.time() - started})
    name = f"{a.workload}-c{cpus}-s{a.seed}-t{a.trace}-{stamp_ts}-{os.getpid()}"
    with open(os.path.join(RESULTS, name + ".json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    spans = out.replace(".json", ".spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(RESULTS, name + ".spans.jsonl"))

    for sec in ("end_to_end", "extra", "per_layer"):
        for k, v in sorted((res.get(sec) or {}).items()):
            val = "n/a" if v["value"] is None else f"{v['value']:.6g}"
            print(f"{a.workload} {sec} {k} = {val} {v['unit']}")
    if a.trace:
        report_overhead(a.workload, cpus, res)
    print(json.dumps({"correct": True, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def report_overhead(workload, cpus, traced):
    """Tracing overhead: the traced run's end-to-end metrics against the
    latest untraced run of the same workload at the same core count."""
    runs = sorted(glob.glob(os.path.join(RESULTS, f"{workload}-c{cpus}-s*-t0-*.json")),
                  key=os.path.getmtime)
    if not runs:
        print(f"{workload} tracing overhead: no untraced run at {cpus} cpus to compare")
        return
    with open(runs[-1]) as fh:
        base = json.load(fh)["end_to_end"]
    for k in sorted(set(base) & set(traced["end_to_end"])):
        b, t = base[k]["value"], traced["end_to_end"][k]["value"]
        print(f"{workload} tracing overhead {k}: {t:.6g} traced vs {b:.6g} untraced "
              f"({(t - b) / b * 100:+.1f}%, vs {os.path.basename(runs[-1])})")


if __name__ == "__main__":
    main()
