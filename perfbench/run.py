#!/usr/bin/env python3
"""Benchmark of the graft engine: builds the engine and the benchmark from
source, runs one workload in one JVM on local[nproc], checks its outputs
against the recorded golden results and prints one JSON result line.

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke          # all workloads, tiny inputs, assertions
    python3 perfbench/run.py --record-golden  # re-record golden.json (see README.md)

Run it from the repository root. Everything it writes goes under
.bench_build/ (build stamp, run records, Spark logs, traces); sbt's build
output goes to perfbench/target.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["join_tile", "query_suite", "table_ingest_read"]
GOLDEN = os.path.join(HERE, "golden.json")
DATA = os.path.join(HERE, "data", "sf0.01")
SMOKE_DATA = os.path.join(HERE, "data", "sf0.001")
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ["build.sbt", os.path.join("project", "build.properties")]:
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(home):
    """Compile the engine sources and the benchmark (skipped when unchanged)."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("engine sources not found: run from the repository root")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java are needed to build the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile / copyResources"], cwd=HERE,
                           env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        die(f"build failed (see {os.path.join(BUILD, 'build.log')})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def heap():
    """min(8g, MemTotal/2), at least 2g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{max(2, min(8, g))}g"


def run_jvm(home, classes, workload, seed, seconds, trace, smoke, cpus, tag, seed_reps=3):
    run = os.path.join(BUILD, "run", tag)
    shutil.rmtree(run, ignore_errors=True)
    for d in ["local", "tmp", "warehouse"]:
        os.makedirs(os.path.join(run, d))
    out = os.path.join(run, "result.json")
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory
    flags = [f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Djava.io.tmpdir={run}/tmp", f"-Dspark.local.dir={run}/local",
        f"-Dspark.sql.warehouse.dir={run}/warehouse", f"-Dderby.system.home={run}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dperfbench.log={run}/spark.log"]
    cp = os.pathsep.join([classes, os.path.join(home, "jars", "*")])
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--seed-reps", str(seed_reps),
            "--trace", str(trace), "--scale", "smoke" if smoke else "full",
            "--work", os.path.join(run, "state"), "--out", out,
            "--data", SMOKE_DATA if smoke else DATA]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=f"{run}/local")
    launch_ms = int(time.time() * 1000)
    cmd = ["java"] + flags + [f"-Dperfbench.launchMs={launch_ms}", "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run, "stdout.log"), "w") as so, open(os.path.join(run, "stderr.log"), "w") as se:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=so, stderr=se, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{workload}: JVM timed out after {JVM_TIMEOUT_S}s (see {run})", 4)
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(run, "stderr.log")).read()[-2000:]
        die(f"{workload}: JVM exited with {p.returncode} (see {run})\n{tail}", 4)
    with open(out) as fh:
        rec = json.load(fh)
    rec["flags"] = flags
    rec["flush_policy"] = "local filesystem, no fsync"
    return rec


def load_golden():
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as fh:
            return json.load(fh)
    return {}


def verdicts(rec, golden):
    """Failed ops: ops that threw, failed an in-run check, or whose
    outputs differ from the golden results."""
    scale = "smoke" if rec["smoke"] else "full"
    want = golden.get(rec["workload"], {}).get(scale, {})
    failures = []
    for o in rec["ops"]:
        if o["k"].startswith("aux."):
            continue
        why = o["e"]
        for key, got in (o["c"] or {}).items():
            exp = want.get(key)
            if why:
                break
            if exp is None:
                why = f"no golden result for {key}"
            elif exp.endswith(":*"):  # row count only (result order/ties vary)
                if got.split(":")[0] != exp.split(":")[0]:
                    why = f"{key}: {got.split(':')[0]} rows, want {exp.split(':')[0]}"
            elif got != exp:
                why = f"{key}: got {got}, want {exp}"
        if why:
            failures.append({"op": o["k"], "why": why})
    return failures


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one_run(home, classes, workload, seed, seconds, trace, smoke=False):
    cpus = os.cpu_count() or 1
    rec = run_jvm(home, classes, workload, seed, seconds, trace, smoke, cpus, f"{workload}-{trace}")
    if trace and workload == "join_tile":
        # the local[1] leg of the local[1] -> local[nproc] scaling pair: one
        # warm-up pass, one measured pass
        one = run_jvm(home, classes, workload, seed, 1, 0, smoke, 1, f"{workload}-1core", seed_reps=1)
        rec["layers"]["join_tile.scale_eff_1_n"] = \
            rec["e2e"]["rows_per_s"] / (cpus * one["e2e"]["rows_per_s"])
    failures = verdicts(rec, load_golden())
    rec["failures"] = failures
    spec = bench_spec()
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        src = rec["layers"] if trace else rec["e2e"]
        metrics[m["name"]] = {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
    n_ops = len([o for o in rec["ops"] if not o["k"].startswith("aux.")])
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{workload}-{seed}-{trace}.json"), "w") as fh:
        json.dump({k: v for k, v in rec.items() if k != "ops"} | {"metrics": metrics}, fh, indent=1)
    for f in failures[:20]:
        print(f"perfbench: {workload}: failed {f['op']}: {f['why']}", file=sys.stderr)
    return {"correct": not failures, "attempted": n_ops, "failed": len(failures), "metrics": metrics}


def smoke(home, classes):
    """Every workload at tiny scale, untraced and traced: every metric of
    BENCHMARK.json present with its unit, and no failed op."""
    spec = bench_spec()
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            r = one_run(home, classes, w, 1, 2, trace, smoke=True)
            names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            for n in names:
                got = r["metrics"].get(n)
                if got is None or got.get("unit") != units[n] or not isinstance(got.get("value"), float):
                    bad.append(f"{w} trace={trace}: metric {n} missing or malformed")
            if r["failed"] or not r["correct"] or r["attempted"] < 1:
                bad.append(f"{w} trace={trace}: {r['failed']} of {r['attempted']} ops failed")
            print(f"perfbench smoke: {w} trace={trace}: {r['attempted']} ops, {r['failed']} failed",
                  file=sys.stderr)
    for b in bad:
        print(f"perfbench smoke: {b}", file=sys.stderr)
    print(json.dumps({"smoke_ok": not bad, "problems": len(bad)}))
    return 0 if not bad else 1


def record_golden(home, classes):
    """Record the golden results of the workloads whose ops carry output
    checks: join_tile twice, query_suite three
    times. A query whose result hash differs between runs is recorded as
    row count only. table_ingest_read checks itself against its model."""
    golden = {}
    for w, seeds in (("join_tile", range(2)), ("query_suite", range(3))):
        golden[w] = {}
        for scale in ("smoke", "full"):
            seen = {}
            for seed in seeds:
                rec = run_jvm(home, classes, w, seed, 10 if scale == "full" else 2, 0, scale == "smoke",
                              os.cpu_count() or 1, f"golden-{w}")
                for o in rec["ops"]:
                    if o["e"]:
                        die(f"{w} {scale}: op {o['k']} failed while recording: {o['e']}", 5)
                    for k, v in (o["c"] or {}).items():
                        seen.setdefault(k, set()).add(v)
            golden[w][scale] = {k: (next(iter(v)) if len(v) == 1 else f"{sorted(v)[0].split(':')[0]}:*")
                                for k, v in sorted(seen.items())}
            print(f"perfbench golden: {w} {scale}: {len(seen)} keys", file=sys.stderr)
    with open(GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-golden", action="store_true")
    a = ap.parse_args()
    home = spark_home()
    classes = build(home)
    if a.smoke:
        return smoke(home, classes)
    if a.record_golden:
        return record_golden(home, classes)
    if not a.workload:
        die("--workload is required")
    print(json.dumps(one_run(home, classes, a.workload, a.seed, a.seconds, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
