#!/usr/bin/env python3
"""Benchmark entry point; run from the root of a checkout:

    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark program from the checkout's sources
(once; later runs reuse the build while the sources are unchanged),
generates the inputs from the seed, runs one JVM and prints
its metrics. The last stdout line is the result JSON. Everything it
writes stays under .bench_build/ in the checkout; the per-run scratch
root is deleted on exit.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

# Every run drives both engine families, so that every end-to-end
# metric is measured in every run; the workload names the family that
# is warmed and holds the measured window.
WORKLOADS = {"ann_search": "ann", "index_lifecycle": "lifecycle"}
SIZES = {
    "ann": dict(n=20000, dim=64, clusters=32, n_queries=2048),
    "lifecycle": dict(n_ref=2000, batches=30, batch_size=100),
}
# Families only the traced run drives, once each after the window, so
# their layers are measured without putting their cost into every
# untraced run.
TRACED_SIZES = {
    "corpus": dict(n_base=300, clusters=30, exact_copies=15, low_quality=15),
    "graph": dict(nodes=3000, edges=20000),
}
JVM_TIMEOUT_S = 170
JAVA_OPENS = [
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


def source_digest(root):
    h = hashlib.sha256()
    # the root build.sbt too: perfbench/build.sbt takes the Spark jar
    # directory from it
    for top in ["build.sbt", "src/main", "perfbench/src",
                "perfbench/build.sbt", "perfbench/project/build.properties"]:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile engine + benchmark with sbt unless this source digest is
    already built; returns the runtime classpath."""
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    sys.stderr.write("\n".join(ln for ln in res.stdout.splitlines()
                               if ln.startswith("[")) + "\n")
    lines = [ln for ln in res.stdout.splitlines() if "perfbench" in ln
             and "classes" in ln and not ln.startswith("[")]
    if res.returncode != 0 or not lines:
        fail("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def main():
    # a SIGTERM unwinds through the finally below like an error does, so
    # the JVM is killed and the scratch root removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ["src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    out = os.path.join(root, ".bench_build")
    classpath = build(root, out)

    scratch = os.path.join(out, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    proc = None
    try:
        t0 = time.time()
        family = WORKLOADS[args.workload]
        sizes = dict(SIZES, **(TRACED_SIZES if args.trace else {}))
        shape = gen.generate(os.path.join(scratch, "input"), args.seed, sizes)
        gen_s = time.time() - t0
        for fam, facts in shape.items():
            print(f"input {fam}: " + " ".join(
                f"{k}={v}" for k, v in facts.items()))
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        cpus = str(len(os.sched_getaffinity(0)))
        cmd = (["java"] + [x for p in JAVA_OPENS
                           for x in ("--add-opens", p + "=ALL-UNNAMED")] +
               ["-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
                "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8",
                "-cp", classpath, "perfbench.Main",
                "--input", os.path.join(scratch, "input"),
                "--scratch", scratch, "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--cpus", cpus,
                "--family", family, "--gen-s", repr(gen_s),
                "--launched-ms", str(int(time.time() * 1000)),
                "--trace-out", os.path.join(
                    traces, f"{args.workload}-seed{args.seed}.json")])
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                cwd=scratch, start_new_session=True)
        t_jvm = time.time()
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
        print(f"perfbench: generation {gen_s:.1f} s, JVM {time.time() - t_jvm:.1f} s",
              file=sys.stderr)
        if proc.returncode != 0:
            fail(f"benchmark JVM exited with {proc.returncode}")
        lines = stdout.strip().splitlines()
        if not lines or not lines[-1].startswith("{"):
            fail("benchmark JVM printed no result")
        print("\n".join(lines[:-1]))
        result = lines[-1]
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    print(result, flush=True)


if __name__ == "__main__":
    main()
