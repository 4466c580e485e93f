#!/usr/bin/env python3
"""Benchmark launcher: builds the library and the harness from source,
makes the run's inputs from the seed, runs one workload in a fresh JVM,
checks its outputs and prints one JSON result line last.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The library compiles into the
repository's own `target/`; everything else it writes (harness build,
corpora, indexes, tables, spans) goes under `.bench_build/` there.
Exits non-zero, printing no result, when the build or any output check
fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("index_build", "ask_session", "registry_mix")
# scale factor of the registry workload's generated tables
REGISTRY_SF = 0.01
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a changed source rebuilds."""
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [p for d in (ROOT, HERE) for p in
                      glob.glob(os.path.join(d, "*.sbt")) + glob.glob(os.path.join(d, "project", "*.sbt"))
                      + glob.glob(os.path.join(d, "project", "*.scala"))
                      + glob.glob(os.path.join(d, "project", "build.properties"))])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def launch_spec():
    """Builds with sbt when the sources changed; returns the run
    classpath and the library build's JVM options."""
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        fail(f"no library sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = os.path.join(BUILD, "launch.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"], saved["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    log("building library and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(os.path.join(BUILD, "launch.txt")) as f:
        cp, *java_options = f.read().splitlines()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp, "java_options": java_options}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, java_options


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def run_jvm(cp, java_options, args, work, tables):
    # the library's own options first; the harness's heap cap and GC follow and win
    cmd = ["java", *java_options, "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if tables:
        cmd += ["--tables", tables]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cpu0 = cpu_times()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
    cpu1 = cpu_times()
    if cpu0 and cpu1 and len(cpu0) > 7:
        # time this VM's CPUs waited for the host: a run with a high share is slowed from outside
        d = [b - a for a, b in zip(cpu0, cpu1)]
        log(f"host steal share of CPU time during the run: {d[7] / max(1, sum(d)):.3f}")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if not lines:
        fail(f"the benchmark JVM printed no result (exit {p.returncode})")
    return json.loads(lines[-1]), p.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, java_options = launch_spec()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tables = None
    try:
        if args.workload == "registry_mix":
            tables = os.path.join(work, "tables")
            subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), tables,
                            str(args.seed), str(REGISTRY_SF)], check=True)
        result, code = run_jvm(cp, java_options, args, work, tables)
        if args.workload == "registry_mix" and result["failed"] == 0:
            sys.path.insert(0, HERE)
            import oracle
            t0 = time.time()
            n, failures = oracle.compare(os.path.join(work, "oracle"), tables)
            log(f"oracle compare {time.time() - t0:.1f} s")
            for f in failures:
                log(f"oracle mismatch {f}")
            result["attempted"] += n
            result["failed"] += len(failures)
            result["correct"] = not failures
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
            shutil.copy(spans, os.path.join(BUILD, "spans", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not result["correct"] or result["failed"]:
        fail(f"output check failed: {result['failed']} of {result['attempted']} operations")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
