#!/usr/bin/env python3
"""Build the server and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload tpch|ycsb --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds with sbt (the
root build plus perfbench/build.sbt, which depends on it) and records the
JVM classpath and options under .bench_build/; later runs reuse them
while the sources and SPARK_DRIVER_MEM / _GC / _YOUNG are unchanged.
Generated tables and reference answers are kept under .bench_build/ for
the same sources, whatever the JVM options; each run's scratch
files (Spark's local dirs, the micro-lake) live there only while it
runs. The last line of standard output is the result object; the line
before it is the run's report.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tpch", "ycsb")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads, relative to ROOT, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d) if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(os.path.relpath(f, ROOT) for f in files if os.path.isfile(f))


# the root build reads these when sbt loads and bakes them into the JVM
# options (heap, collector, young generation)
JVM_ENV = ("SPARK_DRIVER_MEM", "SPARK_DRIVER_GC", "SPARK_DRIVER_YOUNG")


def fingerprint():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def launch_key(fp):
    """The sources' fingerprint plus the environment the JVM options come from."""
    env = json.dumps([os.environ.get(k) for k in JVM_ENV])
    return hashlib.sha256((fp + env).encode()).hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def launch_spec():
    """Classpath and JVM options, building first if the sources or the
    JVM_ENV variables changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: run from a checkout of the server")
    fp = fingerprint()
    key = launch_key(fp)
    spec_file = os.path.join(BUILD_DIR, "launch.json")
    if os.path.isfile(spec_file):
        with open(spec_file) as f:
            spec = json.load(f)
        if spec.get("key") == key:
            return spec
    os.makedirs(BUILD_DIR, exist_ok=True)
    code, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(),
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail("build failed")
    launch = os.path.join(HERE, "target", "launch")
    with open(os.path.join(launch, "classpath.txt")) as f:
        cp = [l.strip() for l in f if l.strip()]
    with open(os.path.join(launch, "javaopts.txt")) as f:
        opts = [l.strip() for l in f if l.strip()]
    spec = {"key": key, "fingerprint": fp, "classpath": cp, "javaopts": opts}
    with open(spec_file, "w") as f:
        json.dump(spec, f)
    return spec


def git_commit():
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = out.stdout.decode().split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return "unknown"
    return lines[1]


def main():
    # a SIGTERM unwinds like an interrupt, so run_bounded kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    spec = launch_spec()
    # generated tables and reference answers are kept per build: they
    # depend only on the sources, not on the run's seed
    cache = os.path.join(BUILD_DIR, "cache-" + spec["fingerprint"][:16])
    for old in os.listdir(BUILD_DIR):
        if old.startswith("cache-") and os.path.join(BUILD_DIR, old) != cache:
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java"] + spec["javaopts"] + [f"-Djava.io.tmpdir={work}", "-cp", os.pathsep.join(spec["classpath"]),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--cache", cache, "--commit", git_commit()])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
