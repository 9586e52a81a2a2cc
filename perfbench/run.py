#!/usr/bin/env python3
"""Router benchmark: closed-loop batch workloads over the Spark rule router.

    python3 perfbench/run.py                      # every workload, untraced
    python3 perfbench/run.py --trace 1            # every workload, per-layer
    python3 perfbench/run.py --workload flagship_route --seed 3 --seconds 6 --trace 0

Builds the program and the benchmark from source with sbt (once per source
state). gen.py writes each seed's input once and caches it under
.bench_build; each workload then runs in a JVM of its own. The last stdout
line of a single-workload run is the JSON result. The exit code is non-zero
when a build, a run or an output check fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import threading
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
WORKLOADS = list(gen.ROWS)
HEAP = "-Xmx3g"
INPUTS = os.path.join(WORK, "inputs")
KEEP_INPUTS = 11  # other cached inputs kept per workload
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the repository, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to the benchmark")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("[error]")))
        fail(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(cp, workload, seed, seconds, trace, input_dir, deadline):
    """Run the measuring JVM; collect its stdout; return (exit code, lines)."""
    tmp = os.path.join(WORK, "tmp")
    logs = os.path.join(WORK, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = ["java", HEAP, f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--mode", "measure", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores()), "--work", WORK, "--input", input_dir,
            "--rows", str(gen.ROWS[workload])]
    out = []
    with open(os.path.join(logs, f"{workload}-s{seed}-t{trace}.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        watchdog = threading.Timer(max(1.0, deadline - time.time()), p.kill)
        watchdog.start()
        try:
            for line in p.stdout:
                out.append(line.rstrip("\n"))
            code = p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
            p.wait()
    return code, out


def run_one(cp, workload, seed, seconds, trace, echo):
    """Generate the input unless cached, then measure; return
    (ok, result dict or None)."""
    deadline = time.time() + RUN_TIMEOUT_S
    t0 = time.time()
    d = gen.generate(INPUTS, workload, seed)
    os.utime(d)
    gen.evict(INPUTS, workload, KEEP_INPUTS, d)
    echo(f"input {os.path.basename(d)} ready in {time.time() - t0:.1f} s")
    code, out = jvm(cp, workload, seed, seconds, trace, d, deadline)
    result = None
    if out and out[-1].startswith("{"):
        result = json.loads(out[-1])
    for l in out[:-1] if result else out:
        echo(l)
    return code == 0 and result is not None and result["correct"], result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    if a.workload:
        # one workload: human lines on stderr, the JSON result last on stdout
        ok, result = run_one(cp, a.workload, a.seed, a.seconds, a.trace,
                             lambda l: print(l, file=sys.stderr))
        if result is None:
            sys.exit(1)
        print(json.dumps(result))
        sys.exit(0 if ok else 1)
    failed = []
    for w in WORKLOADS:
        ok, _ = run_one(cp, w, a.seed, a.seconds, a.trace, print)
        if not ok:
            failed.append(w)
    if failed:
        print(f"FAILED: {', '.join(failed)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
