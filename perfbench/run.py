#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload crawl_cold --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline), and later runs reuse the build
until a source file changes. Each run starts one JVM at local[4], and the
last line of stdout is the result object. Build output goes to
``target/`` and ``perfbench/target/``. Run data goes to
``.bench_build/perfbench/``, and a run's scratch data there is removed
when the run ends.
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

BENCH = "perfbench"
STATE = os.path.join(".bench_build", "perfbench")
WORKLOADS = ("crawl_cold", "crawl_resume", "dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src"),
             os.path.join("src", "test", "scala", "graft", "ReferenceSimulator.scala")]
    for root in roots:
        paths = []
        if os.path.isfile(root):
            paths = [root]
        else:
            for d, dirs, files in os.walk(root):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{' '.join(cmd[:2])} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def ensure_build():
    """Classpath of the built benchmark; builds first when sources changed."""
    cp_file = os.path.join(BENCH, "target", "bench-classpath.txt")
    stamp = os.path.join(STATE, "build.stamp")
    digest = source_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    code, out = run_bounded(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    with open(cp_file) as g:
        return g.read().strip()


def main():
    # a terminated run still stops its JVM (run_bounded kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join(BENCH, "build.sbt")):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a full checkout")

    classpath = ensure_build()
    work = os.path.abspath(os.path.join(STATE, f"work-{os.getpid()}"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.abspath(os.path.join(
        STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
    # a fixed heap: a heap still growing makes early operations slower
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=file:" +
            os.path.abspath(os.path.join(BENCH, "conf", "log4j2.properties"))]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--trace-out", trace_out])
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if code != 0 or result is None:
        fail(f"benchmark JVM exited {code} without a result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
