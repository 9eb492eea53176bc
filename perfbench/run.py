#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload catalog_suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (perfbench/build.sbt) into .bench_build/; later runs
reuse that build while the sources it compiled are unchanged, and rebuild
(incrementally) when any of them changed. The last line of stdout is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). The lines before it hold the output checks and the host
record. Everything a run writes stays under .bench_build/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("catalog_suite", "finance_refresh", "serving_mixed")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HARNESS_HEAP = "1536m"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """SHA-256 over the path and bytes of every file the build compiles."""
    files = [os.path.join(dirpath, name)
             for top in ("src/main", "perfbench/src")
             for dirpath, _, names in os.walk(os.path.join(root, top)) for name in names]
    files += glob.glob(os.path.join(root, "perfbench", "*.sbt"))
    files += glob.glob(os.path.join(root, "perfbench", "project", "*.properties"))
    files += glob.glob(os.path.join(root, "perfbench", "project", "*.sbt"))
    files += glob.glob(os.path.join(root, "perfbench", "project", "*.scala"))
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def build(root, out):
    """Compile program + harness unless the last build compiled these very
    sources; returns the classpath."""
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "sources.sha256")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            built = f.read().strip()
        if built == stamp:
            with open(cp_file) as f:
                return f.read().strip()
    sbt_home = os.path.join(out, "sbt")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
        f"-Dsbt.global.base={sbt_home}/global", f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
    ]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts + ["-Xmx2g"]))
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc, _ = run_child(["sbt", "--batch", "export Runtime/fullClasspath"],
                          os.path.join(root, "perfbench"), env, lf, BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ".bench_build" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_child(cmd, cwd, env, log, timeout_s):
    """Run cmd in its own process group; kill the group on timeout.
    Returns (exit code, rusage of the child and its reaped descendants)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    timer = threading.Timer(timeout_s, lambda: os.killpg(p.pid, signal.SIGKILL))
    timer.start()
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
    try:  # nothing of the run may outlive it
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt", "perfbench/catalog_expected.tsv",
                 "perfbench/fixture/sf0.001/lineitem.parquet"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} is missing; run from the root of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)

    work = os.path.join(out, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = ["java", f"-Xms{HARNESS_HEAP}", f"-Xmx{HARNESS_HEAP}", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = java + ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed),
                  str(a.seconds), str(a.trace), root, work]
    log_path = os.path.join(work, "harness.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        rc, usage = run_child(cmd, root, dict(os.environ), log, RUN_TIMEOUT_S)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{a.workload} exited {rc} after {time.time() - t0:.1f}s without a result; see {log_path}")
    with open(result_path) as f:
        res = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)

    record = res["record"]
    peak_mb = usage.ru_maxrss / 1024.0  # KiB on Linux: max over the harness and its job processes
    record["peak_rss_mb"] = peak_mb
    metrics = res["metrics"]
    last_dir = os.path.join(out, "last")
    os.makedirs(last_dir, exist_ok=True)
    last = os.path.join(last_dir, f"{a.workload}.json")
    if a.trace == 0:
        metrics["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
        with open(last, "w") as f:
            json.dump({"seed": a.seed, "metrics": metrics}, f)
    elif os.path.isfile(last):
        with open(last) as f:
            untraced = json.load(f)["metrics"]
        traced = record.get("end_to_end_traced", {})
        record["tracing_overhead"] = {
            k: traced[k] - untraced[k]["value"] for k in traced if k in untraced}

    print(json.dumps({"checks": res["checks"]}))
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
