#!/usr/bin/env python3
"""Forecast-cycle benchmark runner.

Builds the benchmark package (perfbench/, which compiles against the
repo's main sources) with sbt when the sources changed, then runs one
workload in a JVM and relays its output. The last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload cycle_landfall --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Everything it writes goes under
.bench_build/ there. `--pin` records the run's output hashes for its
workload and seed in perfbench/pins.json; later runs of that seed must
reproduce them (re-pin only after a deliberate change of semantics).
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
BUILD = os.path.join(ROOT, ".bench_build")
PINS = os.path.join(HERE, "pins.json")
WORKLOADS = ("cycle_landfall", "cycle_offshore")
RUN_LIMIT_S = 175      # a run after the build
BUILD_LIMIT_S = 850    # the first run, which builds
HEAP = "3g"
MAIN = "perfbench.Main"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of everything the build reads: build files and Scala sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and record the runtime classpath; skipped when
    the sources are those of the last build."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest:
            return saved["classpath"], False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                stderr=out, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build did not finish within {BUILD_LIMIT_S}s (log: {log})", 4)
        out.write(stdout)
    lines = [l.strip() for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed with exit code {proc.returncode} (log: {log})", 4)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1], True


def stop(proc):
    """Kill the process group and wait until it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the repo's sources are not beside perfbench/; run from a full checkout")

    classpath, built = build()
    # the JVM halts itself at the deadline; the kill below is the backstop
    deadline = start + (BUILD_LIMIT_S + 40 if built else RUN_LIMIT_S) - 8

    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = min(2, os.cpu_count() or 1)
    cmd = (["java", "-Xss64m", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, MAIN,
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--pins", PINS,
              "--deadline-ms", str(int(deadline * 1000)), "--commit", commit(),
              "--cores", str(cores)])
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline + 5 - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("the workload stalled past its deadline; no result", 3)
    finally:
        if proc.poll() is None:
            stop(proc)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0:
        fail(f"the workload exited with code {proc.returncode}; no result", proc.returncode or 1)

    # keep the artifact, drop the generated inputs and scratch
    keep = os.path.join(BUILD, "artifacts")
    os.makedirs(keep, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{int(start)}"
    shutil.copy(os.path.join(work, "artifact.json"), os.path.join(keep, name + ".json"))
    if a.pin:
        pins = {}
        if os.path.exists(PINS):
            with open(PINS) as fh:
                pins = json.load(fh)
        with open(os.path.join(work, "outputs.json")) as fh:
            pins[f"{a.workload}/{a.seed}"] = {k: str(v) for k, v in json.load(fh).items()}
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(lines[-1])


if __name__ == "__main__":
    main()
