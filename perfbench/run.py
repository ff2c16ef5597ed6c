#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload ann_lifecycle --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark with sbt (offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. The benchmark itself runs in a
fresh JVM with one local Spark session. Its last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("ann_serve", "ann_lifecycle", "corpus_pipeline")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
# what sbt's fork settings pass to Spark on JDK 17 (see the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file the build reads, relative to the repository root."""
    out = ["build.sbt", "project/build.properties",
           "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def stamp(root):
    h = hashlib.sha256()
    for rel in sources(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout=None):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise
    return p.returncode, out


def build(root, out):
    """Compile with sbt when the sources changed; returns the classpath."""
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(root)
        if os.path.exists(stamp_file) and os.path.exists(cp_file):
            with open(stamp_file) as f:
                if f.read() == want:
                    with open(cp_file) as g:
                        return g.read().strip()
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
        code, text = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            os.path.join(root, "perfbench"), env, BUILD_TIMEOUT_S, stdout=subprocess.PIPE)
        lines = [l.strip() for l in text.splitlines()]
        if code != 0:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"build failed with exit code {code}")
        cps = [l for l in lines if not l.startswith("[") and os.pathsep in l]
        if not cps:
            fail("the build printed no classpath")
        with open(cp_file, "w") as f:
            f.write(cps[-1])
        with open(stamp_file, "w") as f:
            f.write(want)
        return cps[-1]


def memory_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # on SIGTERM, unwind so the running build or benchmark group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the library sources are not here")
    out = os.path.join(root, ".bench_build")
    cp = build(root, out)

    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{memory_gb()}g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work])
    try:
        code, text = run_group(cmd, work, dict(os.environ), RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = text.splitlines()
    if code != 0 or not lines:
        fail(f"benchmark exited with code {code}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
