#!/usr/bin/env python3
"""Repository benchmark: Bangumi delta syncs through stubbed APIs, and a
sweep of heavy operator lanes.

Run from the repository root:

    python3 perfbench/run.py --workload sync_delta --seed 1 --seconds 10 --trace 0

Workloads: sync_delta, lanes_heavy (see BENCHMARK.json). The
first run builds the program and the benchmark from source with sbt into
.bench_build/ (the build is redone when a source file changes); every run
then starts one JVM that prints the result as the last line of standard
output. `--trace 1` prints the per-layer metrics instead of the end-to-end
ones and writes the spans to .bench_build/traces/.

    python3 perfbench/run.py --pin DIR

writes the lanes' data, outputs and oracle SQL under DIR and prints the
pins (row count and hash per lane) of those outputs; check them with
`python3 tools/check_oracle.py DIR/data DIR/verify` (after adding the other
test-data tables to DIR/data) before copying them to perfbench/pins.json.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

BUILD = ".bench_build"
RUN_LIMIT_S = 170  # the result must arrive within 180 s of the start
BUILD_LIMIT_S = 840
JVM_OPTS = [
    "-Xmx3g", "-XX:TieredStopAtLevel=1",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
    "-Dsun.net.httpserver.nodelay=true",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                           for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n"
                     .encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit_s, capture):
    """Runs cmd in its own process group; kills the group past the limit."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        log(f"{cmd[0]} exceeded {limit_s} s and was stopped")
        return 124, b""
    return proc.returncode, out or b""


def classpath(root):
    """Builds if needed; returns the runtime classpath."""
    build = os.path.join(root, BUILD)
    cp_file = os.path.join(build, "classpath.txt")
    fp_file = os.path.join(build, "fingerprint.txt")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        log("no program sources under src/main/scala: nothing to build")
        return None
    fp = fingerprint(root)
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(build, exist_ok=True)
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # sbt's own state (boot jars, server socket, compiler bridge) stays in
    # the checkout as well
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""),
        "-Dsbt.global.base=" + os.path.join(build, "sbt-global"),
        "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
        "-Djna.tmpdir=" + tmp, "-Djava.io.tmpdir=" + tmp]))
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also for the script's probes
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-error",
         "export Runtime/fullClasspath"],
        os.path.join(root, "perfbench"), env, BUILD_LIMIT_S, capture=True)
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (exit {code})")
        return None
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["sync_delta", "lanes_heavy"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", metavar="DIR")
    a = ap.parse_args()
    if not a.workload and not a.pin:
        ap.error("--workload or --pin is required")
    root = os.getcwd()
    started = time.time()
    cp = classpath(root)
    if cp is None:
        return 2
    work = os.path.join(root, BUILD, "runs", f"{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if a.pin:
        args = ["--pin", os.path.abspath(a.pin)]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work]
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "perfbench.Main"] + args
    # the build may take the first run's extra allowance; the run itself
    # keeps to the per-run limit
    limit = RUN_LIMIT_S if time.time() - started < 60 else 900 - (time.time() - started)
    try:
        code, _ = run_bounded(cmd, root, dict(os.environ), max(60, limit),
                              capture=False)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
