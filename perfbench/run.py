#!/usr/bin/env python3
"""Benchmark of the crawl and curation engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <history|queries> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (offline, cached on a
hash of the sources under .bench_build/), runs one workload in one JVM at
local[nproc] with a heap derived from MemTotal, checks the outputs, and prints
the metrics named in BENCHMARK.json: the end-to-end ones with --trace 0, the
per-layer ones with --trace 1. The last line of stdout is one JSON object with
the keys correct, attempted, failed and metrics. Scratch state lives under
.bench_work/ and is removed after the run; .bench_state/ keeps the end-state
fingerprint of every (build, workload, seed, seconds) seen, so a later run of
the same seed that ends in another state is counted as an error.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import datagen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
STATE = os.path.join(ROOT, ".bench_state")
JVM_TIMEOUT_S = 165
WORKLOADS = ("history", "queries")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(HERE, "harness", "project", "build.properties"))
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness unless the sources are unchanged; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources (build.sbt, src/main/scala) next to perfbench/")
    st = stamp()
    cp_file = os.path.join(BUILD, f"classpath-{st}")
    if os.path.isfile(cp_file):
        return st, open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={BUILD}/sbt-global", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    cps = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln and ":" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return st, cps[-1]


def heap_mb():
    """A quarter of MemTotal, within [2, 8] GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return max(2048, min(8192, kb // 1024 // 4))


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, args, work):
    heap = heap_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseParallelGC",
            "-XX:-DontCompileHugeMethods", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"harness JVM failed ({rc})")
    with open(out) as fh:
        return json.load(fh), heap


def check_fingerprint(res, key):
    """The end state of one (build, workload, seed, seconds) must never change
    between runs, traced or not."""
    fp = res["fingerprint"]
    if os.environ.get("PERFBENCH_CORRUPT") == "fingerprint":
        fp = "corrupted:" + fp
    os.makedirs(STATE, exist_ok=True)
    path = os.path.join(STATE, "fingerprints.json")
    known = json.load(open(path)) if os.path.isfile(path) else {}
    res["attempted"] += 1
    if key in known and known[key] != fp:
        res["failed"] += 1
        res["errors"].append(f"end state {fp} differs from an earlier run's {known[key]}")
    elif key not in known:
        known[key] = fp
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(known, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    st, cp = build()

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # the query inputs are the benchmark's own, written before set-up
        # starts; set-up is JVM and session start and the warm-up the
        # harness reports the end of
        input_s = None
        if args.workload == "queries":
            t = time.time()
            datagen.write(args.seed, os.path.join(work, "sf"))
            input_s = time.time() - t
        t0 = time.time()
        res, heap = run_jvm(cp, args, work)
        res["end_to_end"]["setup_s"] = res["setup_done_ms"] / 1e3 - t0
        res["reported"]["setup_s"] = {"value": res["end_to_end"]["setup_s"], "unit": "s"}
        if input_s is not None:
            res["info"]["input_write_s"] = round(input_s, 3)
        if args.workload == "queries":
            ok, why = oracle.check_all(os.path.join(work, "sf"), os.path.join(work, "results"),
                                       corrupt=os.environ.get("PERFBENCH_CORRUPT") == "query")
            res["attempted"] += ok + len(why)
            res["failed"] += len(why)
            res["errors"] += why
        if res["fingerprint"] is not None:
            check_fingerprint(res, f"{st}|{args.workload}|{args.seed}|{args.seconds}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} nproc={res['nproc']} heap_mb={heap} build={st}")
    for k, v in res["info"].items():
        print(f"  info {k} = {v}")
    for e in res["errors"]:
        print(f"  ERROR {e}")
    error_rate = res["failed"] / max(1, res["attempted"])
    res["reported"]["error_rate"] = {"value": error_rate, "unit": "ratio"}
    for k, m in res["reported"].items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    for k, v in res["counters"].items():
        print(f"  counter {k} = {v}")
    if res["round_walls_s"]:
        print("  round_walls_s = " + " ".join(f"{w:.3f}" for w in res["round_walls_s"]))
    if args.trace:
        for k, v in res["per_layer"].items():
            print(f"  layer {k} = {v}")
    if res["fingerprint"] is not None:
        print(f"  fingerprint = {res['fingerprint']}")

    if args.trace:
        values, wanted = res["per_layer"], spec["per_layer"]
    else:
        values, wanted = res["end_to_end"], spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None and not args.trace:
            fail(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
