#!/usr/bin/env python3
"""Benchmark driver: builds the program and the harness from source, runs
one workload in a fresh JVM, checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload archive_sip --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Every file the run
makes lives under .bench_build/ in the checkout; the run's scratch directory
is removed before exit. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest_gate", "curate_batch", "archive_sip")
RUN_TIMEOUT_S = 170

SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.override.build.repos=true",
             "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]

# The JVM options Spark needs outside spark-submit, as in the program's
# build.sbt, with a 3 GB heap; no perf-data file in /tmp.
JVM_FLAGS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + harness with sbt (offline) unless the classpath
    recorded for the current sources is already there."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from the root of a checkout")
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("digest") == digest:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt"] + SBT_FLAGS + ["compile", "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        fail("build failed, see " + log)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def run_jvm(classpath, args, run_root):
    """Runs the harness; returns (exit code, raw record or None, log path)."""
    record = os.path.join(run_root, "record.json")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, "logs", "%s-seed%d-trace%d.log" % (args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--root", os.path.join(run_root, "work"), "--out", record])
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_root, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(run_root, ignore_errors=True)
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    raw = None
    if os.path.exists(record):
        with open(record) as f:
            raw = json.load(f)
    return rc, raw, log


def check_repeats(raw, workload, seed, store):
    """Outputs that must repeat exactly for a seed (the gate's kept count
    per batch, the prepared rows' digest) are compared with the values
    committed in perfbench/expected.json and with those of the first
    correct run of the seed in this checkout (.bench_build/expect/). A
    stored value is never replaced. Returns the mismatches."""
    with open(os.path.join(HERE, "expected.json")) as f:
        committed = json.load(f).get(workload, {}).get(str(seed), {})
    path = os.path.join(BUILD, "expect", "%s-%d.json" % (workload, seed))
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    errors = []
    for key, value in raw.get("expect", {}).items():
        for ref, where in ((committed, "perfbench/expected.json"), (seen, "an earlier run")):
            old = ref.get(key)
            if isinstance(value, dict) and old is not None:
                errors += ["%s[%s] is %s, %s has %s" % (key, k, v, where, old[k])
                           for k, v in value.items() if k in old and old[k] != v]
            elif old is not None and old != value:
                errors.append("%s is %s, %s has %s" % (key, value, where, old))
        seen[key] = dict(value, **seen.get(key, {})) if isinstance(value, dict) \
            else seen.get(key, value)
    if store and not errors:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(seen, f)
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-record", help="also write the raw run record to this file")
    args = ap.parse_args()

    classpath = build()
    run_root = os.path.join(BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    before = set(os.listdir(ROOT))
    try:
        rc, raw, log = run_jvm(classpath, args, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    leftovers = sorted(set(os.listdir(ROOT)) - before) + (
        [os.path.relpath(run_root, ROOT)] if os.path.exists(run_root) else [])
    if raw is None:
        fail("the run wrote no record (exit %d), see %s" % (rc, log))
    if args.keep_record:
        with open(args.keep_record, "w") as f:
            json.dump(raw, f)
    result = metrics.report(raw, traced=bool(args.trace), leftovers=leftovers, out=sys.stdout)
    errors = ["output differs for this seed: " + e
              for e in check_repeats(raw, args.workload, args.seed, store=result["correct"])]
    if rc != 0:
        errors.append("the run exited with %d, see %s" % (rc, log))
    for e in errors:
        print("  FAILED: " + e)
    if errors:
        result["correct"] = False
        result["failed"] = max(result["failed"], 1)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
