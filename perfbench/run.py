#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload feature_store --seed 1 --seconds 12 --trace 0

The first run in a checkout builds graft and the benchmark with sbt (the
build lands in `target/`, `perfbench/target/` and `.bench_build/`); later
runs reuse the build while the sources are unchanged. The run itself is
one JVM: `graftbench.Main` generates the inputs from the seed, warms up,
issues a number of rounds set by `--seconds`, checks every result, and
prints its metrics.
This script checks the metric names against BENCHMARK.json, attaches the
units, and prints `{"correct", "attempted", "failed", "metrics"}` as the
last line of stdout. It exits non-zero, printing no result, when the
graft sources are missing, the build fails, or the run fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# Spark on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            os.path.relpath(os.path.join(HERE, "build.sbt"), ROOT),
            os.path.relpath(os.path.join(HERE, "project/build.properties"), ROOT),
            os.path.relpath(os.path.join(HERE, "src/main"), ROOT)]
    files = []
    for top in tops:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            files.append(top)
        for d, _, fs in os.walk(p):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for f in sorted(set(files)):
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless a build of these exact sources exists, and
    return the runtime classpath."""
    stamp = os.path.join(WORK, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("digest") == digest:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    try:
        out = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    lines = [l for l in out.stdout.splitlines()
             if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("sbt printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             stdin=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")
    if not (os.path.isdir(os.path.join(ROOT, "src/main/scala/graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("graft sources (build.sbt, src/main/scala/graft) are not in this directory")

    digest = source_digest()
    classpath = build(digest)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or "java")
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--cpus", str(cpus),
            "--commit", git_commit(), "--source-digest", digest[:16]]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited {proc.returncode}")
    lines = out.strip().splitlines()
    if not lines:
        fail("benchmark JVM printed no result")
    res = json.loads(lines[-1])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    got = res["metrics"]
    if set(got) != set(units):
        fail(f"metric names differ from BENCHMARK.json: missing "
             f"{sorted(set(units) - set(got))}, extra {sorted(set(got) - set(units))}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
