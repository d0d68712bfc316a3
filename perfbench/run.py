#!/usr/bin/env python3
"""Benchmark of the graft Spark library: closed-loop workloads against the
program's public functions, with answers checked on every op.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 6 --trace 0

The first run builds the program and the harness from source (sbt, offline)
into `.bench_build/`. Each run then generates its inputs from the seed,
starts one JVM with Spark in `local[N]` (N = min(2, cores)), warms up, runs
the workload as one closed-loop client for `--seconds`, checks every answer
and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones (see README.md). The full record of a run, with raw per-op
times, is kept in `.bench_build/records/`. Exit code 0 means every answer
was right; 1 means a wrong answer; other codes mean the run could not be
made.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["analytics", "tuned_curation"]
# Spark runs in local[CORES]. The ops are dominated by per-job scheduling
# (most stages have one to four tasks), so two cores run them as fast as
# four and leave the other vCPUs to the driver, GC and JIT threads, which
# makes the timings less sensitive to CPU steal on a shared host.
CORES = max(1, min(2, os.cpu_count() or 1))
# Two files per core give every scan stage at least as many tasks as cores.
FILES_PER_TABLE = 2 * CORES
RUN_TIMEOUT_S = 170
# A fixed, pre-touched heap keeps peak RSS from following the collector's
# heap-sizing decisions, so it moves with native and off-heap memory.
JVM_OPTS = ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch"] + [
    x for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


# Two malloc arenas instead of up to eight per core: native memory, and so
# peak RSS, then varies less with how threads happen to interleave.
JVM_ENV = dict(os.environ, MALLOC_ARENA_MAX="2")


def fail(code, msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(code)


def fingerprint(root):
    h = hashlib.sha256()
    for base in ["build.sbt", "project/build.properties", "src/main/scala",
                 "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"]:
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile the program (with its own build) and the harness, once per
    source state, and return the runtime classpath."""
    cp_file, fp_file = f"{out}/classpath.txt", f"{out}/fingerprint.txt"
    fp = fingerprint(root)
    if os.path.exists(cp_file) and os.path.exists(fp_file) and \
            open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = f"{out}/build.log"
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True)
        lf.write(r.stdout)
    lines = [x for x in r.stdout.splitlines() if ".jar" in x and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(3, "build failed", log)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1].strip()


def run_jvm(cp, args, work, log, deadline):
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                 "perfbench.Harness"] + args
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                env=JVM_ENV, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(4, "harness timed out or was interrupted", log)
    if code != 0:
        fail(4, f"harness exited with {code}", log)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail(2, "run from the root of a checkout of the program "
                "(src/main/scala/graft is missing)")
    out = os.path.join(root, ".bench_build")
    cp = build(root, out)

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = f"{out}/work/{name}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    records = f"{out}/records"
    os.makedirs(records, exist_ok=True)
    deadline = time.time() + RUN_TIMEOUT_S

    setup_start = time.time()
    meta = gen.generate(f"{work}/data", a.seed, FILES_PER_TABLE)
    gen_s = time.time() - setup_start
    raw = f"{records}/{name}.raw.json"
    run_jvm(cp, ["--workload", a.workload, "--data", f"{work}/data",
                 "--work", work, "--record", raw, "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--cores", str(CORES),
                 "--rows", ",".join(f"{k}={v}" for k, v in meta["rows"].items())],
            work, f"{records}/{name}.log", deadline)
    with open(raw) as f:
        record = json.load(f)

    ok, notes = oracle.verify(a.workload, record, f"{work}/data")
    ops = record["ops"]
    setup_s = record["setup_end_ms"] / 1e3 - setup_start
    e2e, tail_info = metrics.end_to_end(record, ok, setup_s)
    clk = os.sysconf("SC_CLK_TCK")
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": CORES, "inputs": meta,
        "setup": {"generate_s": gen_s,
                  "jvm_and_session_s": (record["session_ready_ms"] - record["jvm_start_ms"]) / 1e3,
                  "warmup_s": (record["setup_end_ms"] - record["session_ready_ms"]) / 1e3,
                  "total_s": setup_s},
        "ops": len(ops), "rounds": len(ops) // record["round_ops"],
        "op_latency_s": [o["latency_s"] for o in ops],
        "op_kind": [o["kind"] for o in ops],
        "op_ok": ok, "op_tail": tail_info, "checks": notes,
        "errors": [o["error"] for o in ops if o["kind"] == "error"],
        "host.non_self_cpu": metrics.non_self_cpu(record, clk),
        "host.steal_cpu": metrics.steal_cpu(record, clk),
        "end_to_end": e2e,
    }
    if a.trace:
        summary["per_layer"] = metrics.per_layer(record, clk)
        summary["trace_overhead_frac"], summary["trace_overhead_groups"] = \
            metrics.trace_overhead(ops)
    with open(f"{records}/{name}.json", "w") as f:
        json.dump(summary, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for x in ok if not x)
    correct = bool(ops) and failed == 0
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": summary["per_layer"] if a.trace else e2e}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
