#!/usr/bin/env python3
"""Benchmark entry point: builds the program from the checkout's sources
(once per source state) and runs one workload in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> \
        [--seconds 10] [--trace 0|1]

Run from the root of a checkout. Every file the run writes lands under
perfbench/.work/ (inputs cached per seed, traces, JVM temp files) or in the
sbt build's target/ directories. The last line of standard output is the
result JSON object; the line before it records host and run context.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# a fixed, pre-touched heap: peak RSS then moves only with what a change
# does outside the heap, not with when the collector decided to grow it
JVM_HEAP = "2g"
# the --add-opens set Spark needs on JDK 17 outside spark-submit (as in
# the root build)
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def parse_args(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def sources():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
        for d, _, files in os.walk(path):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the group and
    waits for it. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        sys.exit(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    return proc.returncode, out


def build():
    """Compiles the program and the benchmark with sbt (offline) and
    returns the runtime classpath; reuses it while the sources match."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        sys.exit("program sources (src/main/scala/graft) not found: run from "
                 "the root of a full checkout")
    digest = source_digest(sources())
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cp:
                    return cp.read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out)
        sys.exit(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp, digest


def main(argv):
    a = parse_args(argv)
    cp, digest = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perf.BenchMain",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", WORK, "--spec", os.path.join(ROOT, "BENCHMARK.json"),
              "--source", digest[:16]])
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                            stdin=subprocess.DEVNULL)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        sys.exit(f"benchmark JVM failed (exit {code})")
    print("\n".join(lines))


if __name__ == "__main__":
    main(sys.argv[1:])
