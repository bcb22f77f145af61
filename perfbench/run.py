#!/usr/bin/env python3
"""Benchmark of the cdc-lake streaming sink.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the repository's
sources and the benchmark program with sbt (perfbench/build.sbt pulls in the
parent build); later calls reuse the build while the sources are unchanged.
The program runs in its own JVM; its summary lines are passed through and the
last line of standard output is the result JSON.

A traced run (--trace 1) also reports `trace.overhead_ms`: its own batch
median minus that of the untraced run of the same workload, seed and length.
It takes that figure from the untraced run's saved result, and makes the
untraced run first when there is none.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cow_stream", "fanout_stream")
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build: both builds' definitions and sources."""
    h = hashlib.sha256()
    inputs = [
        os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"), os.path.join(HERE, "src"),
    ]
    for top in inputs:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, dirs, fs in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")) or "META-INF" in f:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = os.environ.copy()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = os.path.join(STATE, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest:
            return saved["classpath"]
    log("building (sbt) ...")
    proc = subprocess.run(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def run_bench(classpath, args, trace):
    """One JVM run of the benchmark program. Returns (summary lines, result dict, exit code)."""
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(STATE, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    # The parallel collector on a fixed-size heap, with metaspace sized for
    # Spark's generated classes: G1 on a 1 MiB-region heap takes Spark's
    # column buffers as humongous objects and starts a concurrent cycle every
    # second or so, and each metaspace high-water mark forces a collection;
    # either lands on a random read. Two GC threads: on a 4-core host more
    # compete with the four Spark task threads. No bytecode verification of
    # the classpath (all of it is built here or ships with Spark): it cuts
    # ~5 s of cold start and does not change how the loaded code runs.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn2g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           "-XX:MetaspaceSize=512m", "-XX:-UsePerfData",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:-BytecodeVerificationRemote",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.CdcBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work", work, "--spans", spans]
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    with open(os.path.join(STATE, "logs", f"{args.workload}-trace{trace}.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{args.workload} run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        sys.stderr.write(out)
        raise SystemExit(f"{args.workload} run printed no result (exit {proc.returncode})")
    return lines[:-1], result, proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no repository sources next to perfbench/ (build.sbt, src/main/scala): nothing to benchmark")

    classpath = build()
    record = os.path.join(STATE, "results", f"{args.workload}-seed{args.seed}-s{args.seconds}.json")

    if args.trace:
        if not os.path.exists(record):
            # same workload and length, another seed: seeds move the batch
            # median far less than the bound the benchmark holds it to
            others = sorted(glob.glob(os.path.join(
                os.path.dirname(record), f"{args.workload}-seed*-s{args.seconds}.json")), key=os.path.getmtime)
            if others:
                record = others[-1]
            else:
                log("no untraced result for this workload and length: running it first")
                lines, result, rc = run_bench(classpath, args, 0)
                for ln in lines:
                    print(ln, file=sys.stderr)
                if rc != 0:
                    raise SystemExit(f"untraced run failed (exit {rc})")
                save(record, result)
        with open(record) as fh:
            untraced = json.load(fh)["metrics"]["batch_p50_ms"]["value"]

    lines, result, rc = run_bench(classpath, args, args.trace)
    if args.trace:
        traced = result["metrics"]["trace.batch_p50_ms"]["value"]
        result["metrics"]["trace.overhead_ms"] = {"value": traced - untraced, "unit": "ms"}
        lines.append(f"  trace.overhead_ms {traced - untraced:.4f} ms (traced batch p50 {traced:.1f} ms, "
                     f"untraced {untraced:.1f} ms from {os.path.basename(record)})")
    elif rc == 0:
        save(record, result)
    for ln in lines:
        print(ln)
    print(json.dumps(result), flush=True)
    return rc


def save(path, result):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    sys.exit(main())
