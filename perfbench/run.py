#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source (sbt, offline) into .bench_build/ when the sources changed, runs one
workload in a fresh JVM, and prints as its last line one JSON object with
the keys correct, attempted, failed and metrics. The metric names and units
come from BENCHMARK.json: end-to-end metrics untraced, per-layer metrics
traced. Exits non-zero without a result when the build or the run fails.
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

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# A run is killed past this; the driver allows 180 s.
RUN_TIMEOUT_S = 170


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(sha):
    """Compile the program plus the harness; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            built_sha, cp = fh.read().split("\n", 1)
        if built_sha == sha:
            return cp.strip()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    log("building program and harness (sbt) ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=880)
    out_lines = p.stdout.splitlines()
    with open(os.path.join(BUILD, "build.log"), "a") as fh:
        fh.write(p.stdout)
    if p.returncode != 0:
        raise SystemExit("build failed, see .bench_build/build.log")
    cps = [l for l in out_lines if not l.startswith("[") and ".jar" in l]
    if not cps:
        raise SystemExit("build printed no classpath")
    with open(stamp, "w") as fh:
        fh.write(sha + "\n" + cps[-1].strip())
    return cps[-1].strip()


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def heap():
    """-Xmx: a quarter of RAM, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return "%dm" % max(2048, min(6144, kb // 4 // 1024))


def keep(work, name):
    """Keep the run's JVM log, spans and computed digests under
    .bench_build/logs; drop its inputs."""
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    for f, ext in (("jvm.log", ".log"), ("spans.jsonl", ".spans.jsonl"),
                   ("digests-computed.tsv", ".digests.tsv")):
        if os.path.isfile(os.path.join(work, f)):
            shutil.move(os.path.join(work, f), os.path.join(logs, name + ext))
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit("unknown workload %s" % a.workload)
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    sha = source_sha()
    cp = build(sha)
    name = "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd += ["-Xmx" + heap(), "-XX:+UseG1GC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--digests", os.path.join(BENCH, "digests.tsv"),
            "--source-sha", sha, "--git-sha", git_sha()]
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            keep(work, name)
            raise SystemExit("run passed %d s; JVM killed" % RUN_TIMEOUT_S)
    host = next((l for l in out.splitlines() if l.startswith("PERFBENCH_HOST ")), None)
    res = next((l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")), None)
    if p.returncode != 0 or res is None:
        log(out)
        keep(work, name)
        raise SystemExit("benchmark JVM failed (rc=%s), see .bench_build/logs/%s.log"
                         % (p.returncode, name))
    r = json.loads(res.split(" ", 1)[1])
    missing = sorted(set(units) - set(r["metrics"]))
    extra = sorted(set(r["metrics"]) - set(units))
    if missing or extra:
        raise SystemExit("metrics differ from BENCHMARK.json: missing %s, extra %s" % (missing, extra))
    host_facts = json.loads(host.split(" ", 1)[1])
    host_facts["run_s"] = round(time.time() - t0, 3)
    print(json.dumps({"host": host_facts}))
    keep(work, name)
    print(json.dumps({
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {n: {"value": r["metrics"][n], "unit": units[n]} for n in units},
    }))


if __name__ == "__main__":
    main()
