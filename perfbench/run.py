#!/usr/bin/env python3
"""The repository benchmark: two closed-loop workloads over the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <commit_cycles|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

commit_cycles applies catalog sync cycles (small delta, no-op re-run,
--fetch-min-max) and drives a persisted IVF index (append, delete, compact,
probe); query_mix runs one declared query per family through the noop sink.
Both generate their inputs from the seed.

run.py builds the engine and the Scala harness beside it (perfbench/build.sbt,
once per source change; outputs under .bench_build/) and starts one JVM sized
to the machine: heap half of MemTotal clamped to 2..8 GiB (the rule the
repository's test command uses for SPARK_DRIVER_MEM), Spark local[nproc]. The
harness generates the inputs once, runs the engine's set-up three times, a
cold pass (the first round of operations) and unmeasured warm-up rounds, then
measures operations until `--seconds` of operation time (and at least one
whole round) is measured, one client in a closed loop. Outputs are checked
off the clock; a failed check makes the exit code 1.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics, taken from alternate rounds of
the window while the other rounds run untraced (their difference is the
tracing overhead, stated in the record). The full record (machine, failures,
tail percentile, workload-specific latencies, phase times) is written to
.bench_build/records/<workload>-seed<n>-trace<t>.json; perfbench/diff.py
compares two records.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("commit_cycles", "query_mix")
JVM_TIMEOUT_S = 140


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def bench_config():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile engine + harness when any source changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found: run from the root of a checkout")
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=600)
    if r.returncode != 0:
        die(f"build failed, see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and "/classes" in l]
    if not lines:
        die(f"no classpath in {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, stamp


def machine():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # half of MemTotal, clamped to [2, 8] GiB
    heap_g = min(8, max(2, mem_kb // 2097152))
    return cores, heap_g, mem_kb


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, cores, heap_g):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap_g}g", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the engine's run settings (build.sbt javaOptions)
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.codegen.cache.maxEntries=8192",
            "-Dspark.sql.subexpressionElimination.cache.maxEntries=8192",
            "-cp", cp, "graft.perfbench.Main"] + args
    # SPARK_LOCAL_DIRS would override spark.local.dir, which keeps Spark's
    # scratch files inside the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    with open(log_path, errors="replace") as f:
        log_text = f.read()
    return code, log_text


def oracle_check(work):
    """DuckDB comparison of the query_mix dumps, with tools/check.py's
    normalisation; returns the names of failed queries."""
    verify = os.path.join(work, "verify")
    with open(os.path.join(work, "oracle_data_dir")) as f:
        data_dir = f.read().strip()
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        data_dir, verify], capture_output=True, text=True,
                       timeout=30)
    passed, failed, current = [], {}, None
    for line in r.stdout.splitlines():
        if line.startswith("PASS "):
            passed.append(line.split()[1])
            current = None
        elif line.startswith("FAIL "):
            current = line.split()[1].rstrip(":")
            failed[current] = line
        elif current and line.startswith("  "):
            failed[current] += "\n" + line
    if r.returncode != 0 and not failed:
        failed["check.py"] = (r.stdout + r.stderr)[-2000:]
    return passed, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "tools", "check.py")):
        die("tools/check.py not found: run from the root of a checkout")
    cfg = bench_config()
    cp, stamp = build()
    cores, heap_g, mem_kb = machine()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    rec_path = os.path.join(work, "record.json")
    t0 = time.time()
    code, log_text = run_jvm(cp, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--work", work, "--record", rec_path],
        work, cores, heap_g)
    wall = time.time() - t0
    if code != 0 or not os.path.exists(rec_path):
        tail = "\n".join(log_text.splitlines()[-40:])
        die(f"harness JVM failed (exit {code}):\n{tail}", 1)
    with open(rec_path) as f:
        rec = json.load(f)

    failed = rec["failed"]
    if a.workload == "query_mix":
        passed, bad = oracle_check(work)
        rec["oracle"] = {"passed": passed, "failed": sorted(bad)}
        for q, msg in sorted(bad.items()):
            rec["failures"].append({"phase": "oracle", "kind": q,
                                    "class": "OracleMismatch",
                                    "message": msg[:1000]})
        failed += len(bad)
    error_lines = sum(1 for l in log_text.splitlines()
                      if re.search(r"\bERROR\b", l) and "[perfbench]" not in l)
    rec["failed"] = failed
    rec["correct"] = rec["correct"] and failed == 0
    rec["log_error_lines"] = error_lines
    rec["machine"] = {"cores": cores, "heap_g": heap_g, "mem_total_kb": mem_kb,
                      "spark_version": rec.get("spark_version"),
                      "git_sha": git_sha(), "source_sha256": stamp}
    rec["jvm_wall_s"] = wall
    rec["extra"]["failed_frac"] = failed / max(1, rec["attempted"])

    if a.trace:
        rec["per_layer"]["log.error_lines"] = float(error_lines)
        wanted = [m["name"] for m in cfg["per_layer"]]
        source = rec["per_layer"]
        units = {m["name"]: m["unit"] for m in cfg["per_layer"]}
    else:
        wanted = [m["name"] for m in cfg["end_to_end"]]
        source = rec["end_to_end"]
        units = {m["name"]: m["unit"] for m in cfg["end_to_end"]}
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    spans = rec_path + ".spans.jsonl"
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(records, name[:-5] + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    missing = [n for n in wanted if n not in source]
    if missing:
        die(f"metrics not produced: {missing}", 1)
    metrics = {n: {"value": source[n], "unit": units[n]} for n in wanted}

    for f in rec["failures"]:
        print(f"failure: {f['phase']} {f['kind']}: {f['class']}: "
              f"{f['message'][:300]}")
    if a.trace:
        ov = rec.get("tracing_overhead", {})
        print(f"tracing overhead: {ov.get('overhead_s', 0):.4f} s per op "
              f"({100 * ov.get('overhead_frac', 0):.1f} % of "
              f"{ov.get('untraced_mean_s', 0):.4f} s untraced mean)")
    for n, m in metrics.items():
        print(f"{n} = {m['value']} {m['unit']}")
    for n, v in sorted(rec["extra"].items()):
        print(f"  {n} = {v}")
    print(json.dumps({"correct": bool(rec["correct"]),
                      "attempted": int(rec["attempted"]),
                      "failed": int(failed), "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
