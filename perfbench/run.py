#!/usr/bin/env python3
"""Benchmark of the graft Spark pipeline: one command, three workloads.

    python3 perfbench/run.py --workload suite_warm|pipeline_batch|stream_open_loop \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first call builds the program and the
harness from source with sbt (perfbench/harness); later calls rebuild only
when a source file changed. Each run gets a fresh working directory under
perfbench/.work, removed afterwards. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones, and
a traced run also leaves spans.json and layers.tsv in perfbench/out.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
CLASSPATH = os.path.join(HARNESS, "target", "classpath.txt")
STAMP = os.path.join(HARNESS, "target", "perfbench-build.stamp")
WORKLOADS = ("suite_warm", "pipeline_batch", "stream_open_loop")
RUN_BUDGET_S = 170  # a run must end within 180 s; the build is not counted
BUILD_BUDGET_S = 800
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
OFFLINE_SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                    + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true")


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties"), os.path.join(HARNESS, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, log=None, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    out = open(log, "ab") if log else subprocess.DEVNULL
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT if log else None,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"{cmd[0]} timed out after {timeout:.0f} s (log: {log})")
    finally:
        # also reached when run.py itself is stopped: leave nothing running
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        if log:
            out.close()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"program source {need} not found next to perfbench/; nothing to benchmark")
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", OFFLINE_SBT_OPTS)
    log = os.path.join(BENCH, "out", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    open(log, "w").close()
    t0 = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                    "writeClasspath"], HARNESS, BUILD_BUDGET_S, log, env)
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        die(f"build failed (rc={rc}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def java_cmd(cwd, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    return [java, *opens, "-Xmx3g", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={os.path.join(cwd, 'tmp')}",
            "-cp", open(CLASSPATH).read().strip(), "perfbench.Harness", *args]


def harness(cwd, phase, a, out_dir, deadline, extra=()):
    os.makedirs(os.path.join(cwd, "tmp"), exist_ok=True)
    result = os.path.join(cwd, f"result-{phase}.json")
    args = ["--workload", a.workload, "--phase", phase, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(BENCH, "data", "sf0.001"),
            "--slice", os.path.join(BENCH, "suite_slice.tsv"),
            "--out", result, "--trace-dir", out_dir, *extra]
    log = os.path.join(out_dir, f"harness-{phase}.log")
    rc = run_group(java_cmd(cwd, args), cwd, max(1.0, deadline - time.time()), log)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        die(f"harness {phase} phase failed (rc={rc}); see {log}")
    with open(result) as fh:
        return json.load(fh)


def snapshot(a, out_dir, deadline):
    """The suite's artifact snapshot: the working directory of one cold
    pass over the slice, made once per build and kept read-only, so every
    run starts from a copy of the same state. Returns its path and the
    cold pass's seconds (artifacts.build_s)."""
    snap = os.path.join(BENCH, ".work", "snapshot-" + open(STAMP).read()[:16])
    if not os.path.isdir(snap):
        tmp = f"{snap}.tmp-{os.getpid()}"
        try:
            prep = harness(tmp, "prep", a, out_dir, deadline)
            if not prep["correct"]:
                die("the cold pass that builds the artifact snapshot failed: "
                    + "; ".join(prep["problems"]))
            for d, dirs, files in os.walk(tmp, topdown=False):
                for n in dirs + files:
                    os.chmod(os.path.join(d, n), 0o555 if n in dirs else 0o444)
            os.rename(tmp, snap)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(snap, "result-prep.json")) as fh:
        return snap, json.load(fh)["metrics"]["artifacts.build_s"]["value"]


def main():
    signal.signal(signal.SIGTERM, lambda *_: die("stopped by SIGTERM", 143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    build()

    start = time.time()
    deadline = start + RUN_BUDGET_S
    out_dir = os.path.join(BENCH, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        extra = []
        if a.workload == "suite_warm":
            snap, build_s = snapshot(a, out_dir, deadline)
            shutil.copytree(snap, os.path.join(work, "run"), symlinks=True)
            for d, dirs, files in os.walk(os.path.join(work, "run")):
                for n in dirs + files:
                    os.chmod(os.path.join(d, n), 0o755 if n in dirs else 0o644)
            extra = ["--prep-s", repr(build_s)]
        res = harness(os.path.join(work, "run"), "run", a, out_dir, deadline, extra)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    if res["first_timed_ms"] <= 0:
        die("harness reported no timed operation")
    got["setup_s"] = {"value": res["first_timed_ms"] / 1000.0 - start, "unit": "s"}
    attempted, failed, problems = res["attempted"], res["failed"], res["problems"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v["unit"] != m["unit"] or not math.isfinite(v["value"]):
            die(f"metric {m['name']} missing or malformed in the harness result: {v}")
        metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    correct = not problems and failed == 0
    for n, v in metrics.items():
        print(f"{n:<40} {v['value']!r} {v['unit']}")
    print(f"{'ops_failed_ratio':<40} {failed / max(1, attempted)!r} ratio")
    for p in problems:
        print(f"[perfbench] {p}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
