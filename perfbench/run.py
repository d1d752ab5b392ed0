#!/usr/bin/env python3
"""The warehouse's benchmark: one run of one workload in one fresh JVM.

    python3 perfbench/run.py --workload elt_trickle --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run compiles the warehouse and
the harness with sbt (perfbench/build.sbt) into the checkout's target
dirs and caches the classpath under .bench_build/; later runs start the
JVM directly, so neither compiling nor sbt start-up lands in a metric.
Inputs are made from --seed in a fresh work dir under .bench_work/,
which is removed at the end. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}. --trace 1 reports the
per-layer metrics (BENCHMARK.json "per_layer") instead of the
end-to-end ones; a per-layer metric of the other workload reads 0, and
one of the run's own workload that the JVM did not report fails the run.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175  # every run exits within 180 s

WORKLOADS = ("elt_trickle", "query_mix")
# Scale factor of the tables query_mix generates (README.md, "query_mix
# inputs"); the ELT sizes are constants of the harness (Elt.scala).
MIX_SF = 0.01
HEAP = "3g"
# k of local[k], at most nproc: one run each at k = 1, 2 and 4 showed
# no steadier value, and both workloads are overhead-bound at these sizes
# (README, Steadiness); two threads leave the rest of a small shared box
# to everything else.
MAX_CORES = 2


def mix_layer(name):
    """Whether a per-layer metric is query_mix's; every other one is
    elt_trickle's. A traced run reports the other workload's as 0."""
    return name.startswith("queries.") or \
        name in ("spark.gc_s", "spark.spill_mb", "spark.stages", "spark.tasks")


# Spark on JDK 17 outside spark-submit needs these (as the warehouse's
# own build passes them to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles when the sources changed since the cached build."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{ROOT} holds no warehouse sources to build")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, args, work, cores, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-XX:ParallelGCThreads={cores}", "-XX:ConcGCThreads=1",
           # JIT drift outlasts a run: compile hot code ten times sooner
           "-XX:CompileThresholdScaling=0.1",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if os.environ.get("PERFBENCH_VERBOSE"):
        with open(log) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("perfbench:")))
    report = os.path.join(work, "report.json")
    if code != 0 or not os.path.isfile(report):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the benchmark JVM ended with {code}")
    with open(report) as f:
        return json.load(f)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif kind.startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
        elif kind.startswith("float"):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(list(v)) if hasattr(v, "__len__")
                              and not isinstance(v, (str, bytes, dict)) else v)
    return df.reset_index(drop=True)


def oracle_check(work, data):
    """Each mix answer against DuckDB running the query's declared SQL over
    the same parquet files."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, f)}')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            want = canon(con.execute(sql).fetchdf())
            got = canon(con.execute(
                "SELECT * FROM read_parquet('" +
                os.path.join(work, "answers", name, "*.parquet") + "')").fetchdf())
            same = list(want.columns) == list(got.columns) and len(want) == len(got)
            if same and not want.equals(got):
                key = list(want.columns)
                same = want.astype(str).sort_values(key).reset_index(drop=True).equals(
                    got.astype(str).sort_values(key).reset_index(drop=True))
            if not same:
                problems.append(f"{name}: answer differs from the DuckDB oracle "
                                f"({len(got)} rows vs {len(want)})")
        except Exception as e:  # noqa: BLE001 - any oracle error is a problem
            problems.append(f"{name}: oracle check failed: {e}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the benchmark's command line; every run measures a
    # fixed number of rounds (elt_trickle) or passes (query_mix)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--count-too", action="store_true",
                    help="query_mix: also time count() per query, into the JVM log")
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    cp = classpath()
    # the build may take long the first time; the run itself gets its own
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 5)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--trace", str(a.trace), "--work", work, "--cores", str(cores)]
        data = None
        if a.workload == "query_mix":
            import mixdata
            data = os.path.join(work, "data")
            mixdata.generate(data, a.seed, MIX_SF)
            args += ["--data", data]
        if a.count_too:
            args += ["--count-too", "1"]
        report = run_jvm(cp, args, work, cores, deadline)
        problems = report["problems"]
        if data is not None:
            problems += oracle_check(work, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = report["metrics"]
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        own = [m for m in declared
               if mix_layer(m["name"]) == (a.workload == "query_mix")]
        problems += [f"traced run did not report {m['name']}"
                     for m in own if m["name"] not in metrics]
        metrics = {m["name"]: metrics.get(m["name"], {"value": 0, "unit": m["unit"]})
                   for m in declared}
    for p in problems:
        print(f"perfbench: INCORRECT {p}", file=sys.stderr)
    print(f"perfbench: workload={a.workload} seed={a.seed} local[{cores}] heap={HEAP}"
          + (f" sf={MIX_SF}" if a.workload == "query_mix" else ""))
    print(json.dumps({"correct": not problems, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
