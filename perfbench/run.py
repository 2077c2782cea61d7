#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library and
the runner with sbt (perfbench/build.sbt); later runs reuse the build until
a source file changes. The runner JVM prints a report line and then the
result line, which is the last line of stdout:

    {"correct": true, "attempted": 41, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the spans of the traced
requests are written to perfbench/out/trace-<workload>-seed<n>.json.
Everything the run writes stays under perfbench/ and the build directories.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("ann_query", "cdc_mutate", "corpus_curate")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed-size heap: a heap left to grow made the collector's work, and with
# it the timings, differ from run to run. C1 only: graft generates fresh
# Spark classes for nearly every request, so the C2 compiler never settles
# within a run: on a 4-vCPU VM it compiled for 26-34 s of CPU time during a
# 22 s CDC loop, and its profile-driven code put whole runs into faster or
# slower modes. A 512 MB code cache: C1 alone gets 48 MB by default, which
# graft's generated classes filled about 60 s into a CDC run; the JVM then
# flushed it and recompiled everything (56 000 compilations in 3 s), so a
# run was fast or slow depending on which request the flush hit.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs.extend(os.path.join(d, f) for f in sorted(files))
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    stamp_file = os.path.join(TARGET, "run-stamp.txt")
    stamp = source_stamp()
    cp_file = os.path.join(TARGET, "run-classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeRunFiles"],
                           BENCH, env, log, log, BUILD_TIMEOUT_S)
    if code != 0:
        fail(f"build failed (exit {code}); see {log_path}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_bounded(cmd, cwd, env, stdout, stderr, timeout_s):
    """Run cmd in its own process group; kill the group on timeout. Always
    waits for the process to end. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def result_line(line, trace):
    """The result line, keeping exactly the metrics BENCHMARK.json lists for
    this mode; each must be present with its listed unit. The runner also
    measures per-layer metrics of workloads the file does not list (the
    trace file keeps them all)."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res["metrics"]
    bad = sorted(k for k, unit in want.items() if got.get(k, {}).get("unit") != unit)
    if bad:
        raise ValueError(f"metrics missing or with another unit than BENCHMARK.json: {bad}")
    res["metrics"] = {k: got[k] for k in want}
    return json.dumps(res)


def on_sigterm(signum, frame):
    # unwinds through run_bounded, which kills and reaps the child group
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help="tiny: small inputs and one set-up, for the runner's own tests")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT} (expected build.sbt and src/main/scala/graft)", 2)
    build()

    with open(os.path.join(TARGET, "run-classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(TARGET, "run-jvm-options.txt")) as f:
        jvm_opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]

    work = os.path.join(BENCH, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *jvm_opts, *JVM_FLAGS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", args.trace, "--scale", args.scale, "--work", work, "--out", OUT]
    log_path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    stdout_path = os.path.join(work, "stdout.txt")
    try:
        with open(stdout_path, "w") as out, open(log_path, "w") as log:
            code = run_bounded(cmd, ROOT, env, out, log, RUN_TIMEOUT_S)
        with open(stdout_path) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"runner exited {code}; see {log_path}", 1)
    try:
        result = result_line(lines[-1], args.trace == "1")
    except ValueError as e:
        fail(f"bad result line: {e}", 1)
    for l in lines[:-1]:
        if l.startswith('{"report"'):
            print(l)
    print(result)


if __name__ == "__main__":
    main()
