#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload chain_scan --seed 1 --seconds 10 --trace 0

Builds the library and the harness with sbt on first use (perfbench/target),
runs one workload in a fresh JVM (perfbench.Main), checks the curation
results against DuckDB replays of their oracle SQL, and prints a readable
report followed, as the last line, by one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the op/phase/job/stage spans are written under
perfbench/out/). Exits non-zero without a result on any error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ("chain_scan", "chain_lookup", "curation")
JVM_TIMEOUT_S = 170
HEAP = "2g"
MAX_CORES = 8
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
END_TO_END = ("setup_s", "ops_per_s", "op_p50_s", "peak_heap_mb")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        if os.path.isfile(top):
            yield top
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                yield os.path.join(d, f)


def build():
    """Compiles with sbt unless the classpath is newer than every source."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return open(CLASSPATH).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def run_jvm(cp, args, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out,
            "--cores", str(cores)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out")
    if rc != 0 or not os.path.exists(out):
        fail(f"run failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def canon(df):
    cols = sorted(df.columns)
    return cols, [tuple(str(v) for v in r) for r in df[cols].itertuples(index=False)]


def oracle_failures(res):
    """Replays each curation kind's oracle SQL in DuckDB over the generated
    corpus and compares it with the result Spark wrote in the warm-up:
    columns sorted by name, values compared as strings, rows in order."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{res['corpus']}/{t}.parquet/*.parquet')")
    extra = 0
    for kind, k in sorted(res["kinds"].items()):
        if "oracle" not in k:
            continue
        try:
            want = canon(con.sql(k["oracle"]).df())
            got = canon(con.sql(
                f"SELECT * FROM read_parquet('{k['output']}/*.parquet')").df())
            why = None if want == got else \
                f"{len(got[1])} rows vs {len(want[1])} expected"
        except Exception as e:  # a failing oracle fails the kind
            why = str(e)
        if why:
            print(f"perfbench: {kind} does not match its oracle: {why}",
                  file=sys.stderr)
            extra += k["ops"] - k["failed"]
    return extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/")

    cp = build()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        res = run_jvm(cp, args, work, os.path.join(work, "result.json"))
        if args.workload == "curation":
            extra = oracle_failures(res)
            res["failed"] += extra
            res["correct"] = res["correct"] and extra == 0
        if args.trace:
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"), os.path.join(
                out, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if not args.trace:
        metrics = {k: metrics[k] for k in END_TO_END}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for name, m in list(metrics.items()) + list(res["report"].items()):
        print(f"  {name:34s} {m['value']:14.6g} {m['unit']}")
    for kind, k in sorted(res["kinds"].items()):
        print(f"  op {kind:31s} {k['p50_s']:14.6g} s (p50 of {k['ops']}, "
              f"{k['failed']} failed)")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
