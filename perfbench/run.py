#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <kg_build|query_suite|kg_refresh> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program together with the
benchmark's JVM side (an sbt build in this directory) when the sources have
changed, generates the workload's inputs from the seed, runs the JVM side,
checks the outputs and prints one JSON object as the last line of standard
output. Everything it writes goes under perfbench/.work and is removed when
the run ends. See README.md in this directory for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import fast_oracle  # noqa: E402
import tables  # noqa: E402
WORKLOADS = ("kg_build", "kg_refresh", "query_suite")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(d, "**", "*.java"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile the program and the benchmark unless the classes already
    match the current sources; returns the class directory."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources under src/main/scala; run from a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "-Dsbt.log.noformat=true", "compile"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def heap():
    """Tier-1's sizing: half the machine's memory, clamped to 2-8 GiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kib // 2097152))}g"


def run_jvm(classes, args, work, data, result):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    cpus = os.cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseParallelGC",
           f"-XX:ParallelGCThreads={cpus}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dfile.encoding=UTF-8"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--data", data,
            "--result", result]
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, LANG="C.UTF-8")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail(f"benchmark JVM failed ({rc})")
    with open(result) as fh:
        return json.load(fh)


def oracle_failures(data, out):
    """Compare each written query result with its DuckDB oracle, the way
    tools/oracle_check.py does; returns the names that do not match."""
    path = os.path.join(out, "oracle_sql.json")
    with open(path) as fh:
        oracle = json.load(fh)
    oracle.update({k: v for k, v in fast_oracle.SQL.items() if k in oracle})
    with open(path, "w") as fh:
        json.dump(oracle, fh)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        data, out], capture_output=True, text=True, timeout=120)
    lines = r.stdout.splitlines()
    if not lines or not lines[-1].startswith("FAILURES:"):
        sys.stderr.write(r.stdout + r.stderr)
        fail("oracle check did not complete")
    bad = [l.split()[1].rstrip(":") for l in lines
           if l.split() and l.split()[0] in ("MISSING", "SCHEMA", "ROWCOUNT", "VALUES")]
    for l in lines:
        if not l.startswith("OK"):
            print(f"oracle: {l}", file=sys.stderr)
    return bad


def declared(metrics, key):
    """The metrics in BENCHMARK.json's order; a metric the JVM side did not
    report, or one BENCHMARK.json does not declare, is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[key]
    names = [m["name"] for m in spec]
    if set(names) != set(metrics):
        fail(f"reported {key} metrics differ from BENCHMARK.json: "
             f"{sorted(set(names) ^ set(metrics))}")
    for m in spec:
        if metrics[m["name"]]["unit"] != m["unit"]:
            fail(f"{m['name']} reported in {metrics[m['name']]['unit']}, "
                 f"declared in {m['unit']}")
    return {n: metrics[n] for n in names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    classes = build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if args.workload == "query_suite":
            tables.write_all(data, args.seed)
        res = run_jvm(classes, args, work, data, os.path.join(work, "result.json"))
        failed_names = set(res["failed_names"])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "query_suite":
            failed_names |= set(oracle_failures(data, os.path.join(work, "out")))
            failed = len(failed_names)
        res["notes"]["fail_ratio"] = failed / attempted
        for k, v in res["notes"].items():
            print(f"{args.workload} {k} = {v}")
        for k in sorted(failed_names):
            print(f"{args.workload} FAILED {k}")
        metrics = declared(res["layer"] if args.trace else res["e2e"],
                           "per_layer" if args.trace else "end_to_end")
        for k, m in metrics.items():
            print(f"{args.workload} {k} = {m['value']} {m['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
