#!/usr/bin/env python3
"""Run one workload of graft's sync-and-read benchmark.

    python3 perfbench/run.py --workload small_commits --seed 1 --seconds 30 --trace 0

Builds the benchmark (and graft, from the sources beside it) with sbt when
the sources changed since the last build, then runs the workload in one
JVM. The JVM prints a table of every metric with its sample count, and as
its last line one JSON object: correct, attempted, failed and the metrics
(`--trace 0`: end-to-end; `--trace 1`: per-layer). This script checks
that line and prints it last. Everything it writes stays under
perfbench/ (build output, scratch tables, traces).
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
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "sources.stamp")
WORKLOADS = ("small_commits", "read_delete_mix", "wide_table")
HEAP = "3g"
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_stamp():
    """Digest of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for tree in trees:
        for d, _, names in sorted(os.walk(tree)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft sources not found ({need} missing beside perfbench/)")
    stamp = sources_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt launchFile)", file=sys.stderr)
    with open(os.path.join(HERE, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail("build failed, see perfbench/build.log")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    with open(LAUNCH) as f:
        launch = [l for l in f.read().splitlines() if l]
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # graft's own run options first; the heap cap and temp dir after them win
    cmd = (["java"] + launch[:-2] + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + launch[-2:] + ["graftbench.Main", "--workload", a.workload,
                            "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--work", os.path.join(work, "run"),
                            "--traces", os.path.join(HERE, "traces")])
    log_path = os.path.join(HERE, "work", f"{a.workload}-{a.seed}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                 stdin=subprocess.DEVNULL, text=True,
                                 start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S}s, see {os.path.relpath(log_path, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if p.returncode != 0 or not lines:
        fail(f"run failed (exit {p.returncode}), see {os.path.relpath(log_path, ROOT)}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
