#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload meta_replay --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the benchmark with
sbt (the engine's main classes plus perfbench/src) and caches the class
path; later runs start the JVM directly. Build outputs, cached raw
inputs and each run's scratch live under $CARGO_TARGET_DIR (default
.bench_build) in the checkout; the scratch is deleted when the run ends.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
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
WORKLOADS = ("meta_replay", "commit_mix", "scan_read")
# what the benchmark needs from the repository besides its own files
ENGINE_INPUTS = ("build.sbt", "src/main/scala", "bench/workloads/meta300k")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "4g"
JDK17_OPENS = [
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


def source_fingerprint():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src/main"]
    for rel in roots:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(work):
    """The benchmark's runtime class path, building first if the sources
    changed since the cached build."""
    stamp = os.path.join(work, "build.json")
    fp = source_fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the benchmark")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    missing = [p for p in ENGINE_INPUTS
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a repository checkout, missing: {', '.join(missing)}")

    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    work = os.path.join(ROOT, target, "perfbench")
    os.makedirs(work, exist_ok=True)
    cp = classpath(work)

    # this run's own scratch; nothing outside it is ever deleted
    scratch = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+ExitOnOutOfMemoryError",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--checkout", ROOT, "--scratch", scratch,
              "--cache", os.path.join(work, "cache")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run did not finish within {RUN_TIMEOUT_S} s",
              file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
