#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload <suite|serve_write> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record     # rewrite suite_fingerprints.tsv

Run from the repository root. The first run compiles the engine and the
benchmark with sbt (outputs under target/ and perfbench/target/); later
runs reuse the build while the sources are unchanged. The input data is
the sf0.1 parquet set, taken from $GRAFT_BENCH_DATA or ~/testdata/sf0.1.
The last stdout line is the JSON result; the lines before it are the
host record and the workload's detail metrics. Exits non-zero without a
result when the build, the data or the run fails.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles both builds when the sources changed; returns the classpath."""
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(STATE, exist_ok=True)
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"]
    # resolve only from local caches, as the repository's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}", 3)
    if p.returncode != 0 or not os.path.exists(cp_file):
        die(f"build failed (sbt exit {p.returncode})", 3)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def expected_metrics(kind):
    """Metric names BENCHMARK.json lists for `kind`, or None without it."""
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec):
        return None
    with open(spec) as f:
        return [m["name"] for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="suite")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite the suite fingerprints from this build")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run from the root of a graft checkout (build.sbt and src/main/scala not found)")
    data = os.environ.get("GRAFT_BENCH_DATA") or os.path.expanduser("~/testdata/sf0.1")
    if not os.path.isfile(os.path.join(data, "orders.parquet")):
        die(f"sf0.1 input not found at {data} (set GRAFT_BENCH_DATA)")

    classpath = build()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--commit", git_commit()]
    if a.record:
        args += ["--record", os.path.join(BENCH, "suite_fingerprints.tsv")]
    java = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dperfbench.dir={BENCH}", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main"] + args

    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        traces = os.path.join(work, "trace")
        if os.path.isdir(traces):
            dest = os.path.join(STATE, "trace")
            os.makedirs(dest, exist_ok=True)
            for f in os.listdir(traces):
                shutil.move(os.path.join(traces, f), os.path.join(dest, f))
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        die(f"benchmark exited {proc.returncode}", 1)
    if a.record:
        return
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        die("benchmark printed no result line", 1)
    expect = expected_metrics("per_layer" if a.trace else "end_to_end")
    if expect is not None and list(result["metrics"]) != expect:
        die("result metrics differ from BENCHMARK.json", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
