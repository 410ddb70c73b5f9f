#!/usr/bin/env python3
"""Benchmark of the btr format and the engine on top of it.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload scan|ingest|query --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the program and the benchmark from the sources beside this file
(once per source state), generates the inputs for the seed, runs the
workload on Spark `local[<cores>]` as a closed loop with one client,
checks every output, and prints every metric by name with its unit. The
last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# the tables the inputs are generated from: sf0.1 for scan and ingest,
# sf0.01 for the query mix, sf0.001 for the self-test
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
SOURCE = os.path.join(TESTDATA, "sf0.1")
QUERY_SOURCE = os.path.join(TESTDATA, "sf0.01")
TINY_SOURCE = os.path.join(TESTDATA, "sf0.001")
# where the program keeps its btr copies of an input (graft.Btr.cachePath)
PROGRAM_CACHE = "/tmp/graft-btr-cache"
# replicas of the source: 10 makes sf1 for scan and ingest
COPIES = 10
KEEP_INPUTS = 4  # generated-input sets kept between runs (newest first)
JVM_TIMEOUT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Hash of every file the build reads: the program's and the benchmark's."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                 os.path.join(BENCH, "project"), os.path.join(BENCH, "src")):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(BENCH, "build.sbt"))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classes_stamp(cp):
    """Names, sizes and times of the compiled classes in the classpath's
    directories (its jars come from the image and are skipped): they change
    whenever any build recompiles them."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        for d, dirs, fs in os.walk(entry):  # nothing for a jar
            dirs.sort()
            for f in sorted(fs):
                st = os.stat(os.path.join(d, f))
                h.update(f"{os.path.join(d, f)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the benchmark with sbt; returns the classpath.

    The last build's source hash and classes stamp are kept in one file.
    sbt is skipped only if the sources are those of the last build and no
    build has touched its classes since; any other build into the same
    target/ directories (an edit, a plain `sbt test`, a revert) forces a
    rebuild.
    """
    stamp_file = os.path.join(WORK, "build", "last-build.json")
    stamp = source_stamp()
    try:
        with open(stamp_file) as f:
            last = json.load(f)
        if last["sources"] == stamp and last["classes"] == classes_stamp(last["classpath"]):
            return last["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=880)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cps = [ln for ln in lines if ln.count(".jar") > 3 and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    cp = cps[-1]
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"sources": stamp, "classpath": cp, "classes": classes_stamp(cp)}, f)
    return cp


def program_cache_dirs(input_dir):
    """The program's per-input btr cache roots (any cache version)."""
    key = re.sub(r"[^a-zA-Z0-9.]", "_", input_dir)
    return glob.glob(os.path.join(PROGRAM_CACHE, "*", key + "_*"))


def prune_inputs(keep_newest):
    root = os.path.join(WORK, "inputs")
    if not os.path.isdir(root):
        return
    sets = sorted((os.path.join(root, d) for d in os.listdir(root) if d != "parts"),
                  key=os.path.getmtime, reverse=True)
    for d in sets[keep_newest:]:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(cp, workload, seed, seconds, trace, source, copies, query_source, corrupt):
    """Runs one benchmark process; returns its result JSON, or None."""
    run = os.path.join(WORK, "run")
    inputs = os.path.join(WORK, "inputs")

    def input_dirs():
        return glob.glob(os.path.join(inputs, f"*-s{seed}"))  # any source and size

    def drop_program_cache():
        for d in input_dirs():
            for c in program_cache_dirs(d):
                shutil.rmtree(c, ignore_errors=True)

    # start cold: no btr copy the program cached for this input, no output
    # of an earlier run
    drop_program_cache()
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    for d in input_dirs():  # keep this seed's inputs when pruning
        os.utime(d)
    prune_inputs(KEEP_INPUTS)
    out = os.path.join(run, "result.json")
    cmd = (["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=64", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", run, "--inputs", inputs, "--source", source,
            "--copies", str(copies), "--query-source", query_source, "--cores", str(cores()),
            "--corrupt", "1" if corrupt else "0", "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("benchmark process timed out")
    finally:
        drop_program_cache()
    if proc.returncode != 0 or not os.path.exists(out):
        log(f"benchmark process failed (exit {proc.returncode})")
        return None
    with open(out) as f:
        return json.load(f)


def bench(args):
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: the program's sources are not here (no build.sbt beside perfbench/)")
    with open(SPEC) as f:
        spec = json.load(f)
    cp = build()
    res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, args.source,
                  args.copies, args.query_source, args.corrupt)
    if res is None:
        return 1
    failed = res["failed"]
    if res["oracle"]:
        bad = oracle.check(res["oracle"], corrupt=args.corrupt)
        failed += bad
    attempted = res["attempted"]
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [m for m in wanted if m not in res["metrics"]]
    if missing:
        log(f"metrics not measured: {missing}")
        return 1
    metrics = {m: res["metrics"][m] for m in wanted}
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={cores()} passes={res['info'].get('passes')}")
    for k, v in res["info"].items():
        print(f"  info {k} = {json.dumps(v)}")
    for k, v in metrics.items():
        print(f"  {k:48s} {v['value']:>16.6g} {v['unit']}")
    print(f"  error_rate = {failed}/{attempted} = {failed / max(attempted, 1):.4g}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def self_test():
    """Every workload at sf0.001: the printout carries exactly the listed
    metrics, every check passes, and a corrupted expected result fails."""
    ok = True
    for wl in ("scan", "ingest", "query"):
        for trace, corrupt in ((0, False), (1, False), (0, True)):
            argv = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", "7",
                    "--seconds", "1", "--trace", str(trace), "--source", TINY_SOURCE,
                    "--copies", "1", "--query-source", TINY_SOURCE]
            if corrupt:
                argv.append("--corrupt")
            p = subprocess.run(argv, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                r = json.loads(last)
            except ValueError:
                r = None
            with open(SPEC) as f:
                spec = json.load(f)
            names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
            good = (p.returncode == 0 and r is not None and set(r) == {"correct", "attempted", "failed", "metrics"}
                    and set(r["metrics"]) == names and r["attempted"] >= 1
                    and all(isinstance(v["value"], (int, float)) and v["unit"] for v in r["metrics"].values())
                    and ((r["failed"] > 0 and not r["correct"]) if corrupt
                         else (r["failed"] == 0 and r["correct"])))
            ok &= good
            desc = f"{wl} trace={trace}{' corrupted' if corrupt else ''}"
            print(f"self-test {desc:28s} {'PASS' if good else 'FAIL'}"
                  + (f"  failed={r['failed']}/{r['attempted']}" if r else ""), flush=True)
    print("self-test", "PASS" if ok else "FAIL")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["scan", "ingest", "query"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    # for the self-test: a smaller source, fewer replicas, corrupted checks
    ap.add_argument("--source", default=SOURCE)
    ap.add_argument("--copies", type=int, default=COPIES)
    ap.add_argument("--query-source", default=QUERY_SOURCE)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        return self_test()
    if not args.workload:
        ap.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
