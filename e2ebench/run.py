#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness and, through its dependency on the root build, the
engine (sbt, once per source fingerprint), runs the workload in its own JVM at local[<cpus>], and prints
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics of
BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1). Every metric
of the run, with unit, and every failure by kind and cause go to stderr; the
full record (stamps, spans, digests) is kept under e2ebench/.work/results/.
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
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in os.path.relpath(d, BENCH).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile engine + harness with sbt; return the runtime classpath and
    the JVM flags the harness build derives from the engine's."""
    stamp = os.path.join(WORK, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("fingerprint") == fp:
            return b["classpath"], b["jvm_flags"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    # keep the build's scratch files inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "launch"], cwd=BENCH, env=env,
                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    launch = os.path.join(BENCH, "target", "launch.txt")
    if rc != 0 or not os.path.isfile(launch):
        fail(f"build failed (exit {rc}), see {log}")
    with open(launch) as f:
        lines = [l.strip() for l in f if l.strip()]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[0],
                   "jvm_flags": lines[1:]}, f)
    return lines[0], lines[1:]


def commit_id(fp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "tree-" + fp[:16]


def run_jvm(args, classpath, jvm_flags, fp, cpus):
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    cmd = ["java"] + jvm_flags + [
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}", "-cp", classpath, "e2ebench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--cpus", str(cpus),
        "--commit", commit_id(fp), "--pins", os.path.join(BENCH, "pins.tsv")]
    logdir = os.path.join(WORK, "logs")
    os.makedirs(logdir, exist_ok=True)
    log = os.path.join(logdir, f"{args.workload}_seed{args.seed}_trace{args.trace}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run timed out after {RUN_TIMEOUT_S}s, see {log}")
    if rc != 0 or not os.path.isfile(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run failed (exit {rc}), see {log}")
    with open(out) as f:
        rec = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    os.makedirs(WORK, exist_ok=True)
    fp = fingerprint()
    classpath, jvm_flags = build(fp)
    cpus = len(os.sched_getaffinity(0))
    rec = run_jvm(args, classpath, jvm_flags, fp, cpus)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = rec["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} missing from the run record")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {got['unit']}, expected {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}

    resdir = os.path.join(WORK, "results")
    os.makedirs(resdir, exist_ok=True)
    with open(os.path.join(resdir, f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    for k, v in sorted(rec["metrics"].items()):
        print(f"{k:44s} {v['value']!s:>24} {v['unit']}", file=sys.stderr)
    for kind, causes in rec["failures"].items():
        for cause, n in causes.items():
            print(f"FAILED {kind}: {cause} x{n}", file=sys.stderr)
    print(f"verdict: correct={rec['correct']} attempted={rec['attempted']} "
          f"failed={rec['failed']} stamp={json.dumps(rec['stamp'])}", file=sys.stderr)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
