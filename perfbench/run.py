#!/usr/bin/env python3
"""Benchmark entry point for the medallion chain and the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: chain_steady, batch_registry (see BENCHMARK.json
and perfbench/README.md). The first run builds the program together with
the harness (sbt, offline) into perfbench/target; later runs reuse the
build while the sources are unchanged. Every file a run writes lands under
.bench_work/ in the checkout, which is removed at the end of the run
except for the span file a traced run leaves.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The exit code is 0 only when the
run completed and that line was printed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("chain_steady", "batch_registry")
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
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """sha256 over the program and harness sources and build files."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build(root, stamp):
    """Compile program + harness; return the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "bench-classpath.txt")
    stamp_file = os.path.join(target, "bench-source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    rc, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {rc})")
    cp = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[bench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--derive-digests", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if not 1 <= a.seconds <= 600:
        fail("--seconds must be within 1..600")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: the program sources are missing")
    data = os.path.join(HERE, "data", "sf0.001")
    digests = os.path.join(HERE, "digests.tsv")
    for p in (data, digests):
        if not os.path.exists(p):
            fail(f"missing benchmark input {os.path.relpath(p, root)}")

    stamp = source_digest(root)
    cp = build(root, stamp)
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL).stdout.strip()
    except OSError:
        commit = ""
    print("[bench] " + json.dumps({"git_commit": commit or "unknown", "source_sha256": stamp}))
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", work, "--data", data, "--digests", digests]
    timeout = RUN_TIMEOUT_S
    if a.derive_digests:
        # one unwarmed pass over every registered query
        cmd += ["--derive-digests", os.path.abspath(a.derive_digests)]
        timeout = BUILD_TIMEOUT_S
    try:
        rc, out, _ = run_group(cmd, timeout, cwd=work, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {timeout} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    ok = (rc == 0 and isinstance(result, dict)
          and set(result) == {"correct", "attempted", "failed", "metrics"})
    for l in (lines if ok else lines[:-1] if result is not None else lines):
        print(l)
    if not ok:
        fail(f"run did not complete (exit {rc})")


if __name__ == "__main__":
    main()
