#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark (perfbench.Main)
from source when they changed, runs one workload in a fresh JVM, and prints
the result object as the last line of standard output.

    python3 perfbench/run.py --workload codec-load --seed 1 --seconds 20 --trace 0

Run it from the root of the repository. Build products and run records go
under .bench_build/perfbench/. `--tiny` runs the self-test scale. The exit
code is 0 only when the run finished and every output check passed.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("codec-load", "corpus-ops")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these opens outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _terminate(signum, frame):
    raise SystemExit(f"terminated by signal {signum}")


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it. Kills the whole
    group on timeout, and when this script is itself terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()


def build():
    """Compiles with sbt unless the stamped sources are unchanged."""
    os.makedirs(OUT, exist_ok=True)
    cp_file = os.path.join(HERE, "target", "runtime.classpath")
    stamp_file = os.path.join(OUT, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return open(cp_file).read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                 f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    build_log = os.path.join(OUT, "build.log")
    with open(build_log, "w") as lf:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "perfbenchClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(build_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"build failed (exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


def heap():
    """JVM heap: a quarter of RAM, between 2 and 3 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2048, min(3072, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 2048


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--tiny", action="store_true", help="self-test scale")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    classpath = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(OUT, "runs")
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(OUT, "tmp", tag)
    os.makedirs(tmp, exist_ok=True)
    mb = heap()
    # The heap starts at half its maximum, so the old generation starts as
    # large as the young one. From the default small start, the parallel
    # collector ran a 150-215 ms full GC every few seconds to resize the heap
    # ("Ergonomics"), each landing in whichever op was running. A heap fixed
    # at its maximum had none, but its peak RSS then followed how much
    # garbage happened to be promoted (14-20% spread).
    cmd = (["java", f"-Xmx{mb}m", f"-Xms{mb // 2}m", "-XX:MetaspaceSize=256m", "-XX:+UseParallelGC",
            f"-Xmn{mb // 4}m", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", os.path.join(OUT, "work", tag), "--out", out]
           + (["--tiny"] if a.tiny else []))
    jvm_log = os.path.join(run_dir, tag + ".log")
    with open(jvm_log, "w") as lf:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    with open(jvm_log) as f:
        lines = f.readlines()
    sys.stderr.write("".join(l for l in lines if l.startswith("[perfbench]")))
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(lines[-40:]))
        raise SystemExit(f"run failed (exit {rc}); log in {jvm_log}")
    with open(out) as f:
        result = json.loads(f.read())
    print(json.dumps(result))
    if not result["correct"]:
        raise SystemExit("output check failed; see " + out + ".run.json")


if __name__ == "__main__":
    main()
