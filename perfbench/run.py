#!/usr/bin/env python3
"""Benchmark of the grafterspark CDC engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's own code from source (sbt, offline; the
first run of a checkout compiles), runs one workload in a fresh JVM as
local[nproc], checks every output against its oracle and prints, as the
last line of stdout, one JSON object: correct, attempted, failed and the
metrics named in BENCHMARK.json (end-to-end ones with --trace 0, per-layer
ones with --trace 1). The line before it is the full record of the run:
the named per-workload metrics with their sample counts, the
deterministic counts, the run environment and any mismatch. A mismatch
or a failed call makes the exit code 1.

Workloads: ingest_bulk, trickle_rw, query_suite.
Seeds 1 to 10 prove the benchmark; seed 7919 is held out for confirming
later claims.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ["ingest_bulk", "trickle_rw", "query_suite"]
SUITE_SCALE = 0.01
RUN_TIMEOUT_S = 170
ORACLE_TIMEOUT_S = 120
BUILD_TIMEOUT_S = 840

sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def spark_home():
    """The Spark distribution whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME")
    return home


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the root of a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            built, cp = f.read(), g.read()
        # the classes directory can be cleaned apart from the stamp
        if built == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


def heap():
    """A quarter of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, workload, seed, seconds, trace, work, tables):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    cmd = [java, f"-Xms{heap()}g", f"-Xmx{heap()}g", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work", work]
    if tables:
        cmd += ["--tables", tables]
    # shuffle and spill files stay in the work directory, whatever the
    # environment names
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if r.returncode != 0 or not lines:
        fail(f"{workload}: benchmark JVM exited {r.returncode} without a result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def suite_tables(work, seed):
    """Generate the suite's tables; their directory and the time it took."""
    import tpcgen
    d = os.path.join(work, "tables")
    t0 = time.perf_counter()
    tpcgen.generate(d, seed, SUITE_SCALE)
    return d, time.perf_counter() - t0


def suite_oracle(tables, verify):
    """Mismatches tools/compare_oracle.py reports for the suite's dumps."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
                        tables, verify], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=ORACLE_TIMEOUT_S)
    if r.returncode == 0:
        return []
    return [f"query_suite oracle: {l}" for l in r.stdout.splitlines() if ": OK (" not in l] \
        or [f"query_suite oracle: compare_oracle.py exited {r.returncode}"]


def run_workload(spec, workload, seed, seconds, trace):
    cp = build()
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables, gen_s = suite_tables(work, seed) if workload == "query_suite" else (None, None)
        rec = run_jvm(cp, workload, seed, seconds, trace, work, tables)
        if workload == "query_suite":
            rec["env"]["tables_gen_s"] = gen_s
            t0 = time.perf_counter()
            rec["errors"] += suite_oracle(tables, os.path.join(work, "verify"))
            rec["env"]["oracle_s"] = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = spec["per_layer"] if trace else spec["end_to_end"]
    have = rec["per_layer"] if trace else rec["end_to_end"]
    metrics = {}
    for m in names:
        value = have.get(m["name"], {}).get("value")
        if isinstance(value, (int, float)) and math.isfinite(value):
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        elif trace:
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}  # layer not on this path
        else:
            rec["errors"].append(f"end-to-end metric {m['name']} was not measured: {value}")
    rec["correct"] = not rec["errors"]
    detail = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "correct": rec["correct"], "errors": rec["errors"], "attempted": rec["attempted"],
              "failed": rec["failed"], "end_to_end": rec["end_to_end"], "detail": rec["detail"],
              "per_layer": rec["per_layer"], "counts": rec["counts"], "env": rec["env"]}
    result = {"correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"],
              "metrics": metrics}
    return detail, result


def finite(x):
    """x with every NaN or infinity (a statistic of no samples) as null."""
    if isinstance(x, dict):
        return {k: finite(v) for k, v in x.items()}
    if isinstance(x, list):
        return [finite(v) for v in x]
    return None if isinstance(x, float) and not math.isfinite(x) else x


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    todo = WORKLOADS if a.workload == "all" else [a.workload]
    if any(w not in WORKLOADS for w in todo):
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)} or all")
    ok = True
    for w in todo:
        detail, result = run_workload(spec, w, a.seed, a.seconds, bool(a.trace))
        print(json.dumps(finite(detail)), flush=True)
        print(json.dumps(result, allow_nan=False), flush=True)
        ok = ok and result["correct"] and result["failed"] == 0
    shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
