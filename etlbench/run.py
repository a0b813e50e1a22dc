#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

Usage (from the repository root):

    python3 etlbench/run.py --workload cd_full --seed 1 --seconds 20 --trace 0

The first run compiles the engine and the benchmark from source with the
Scala compiler among Spark's jars, so it needs only java, and keeps the
classes under etlbench/target/; later runs reuse them until a source file
changes. Each run starts one JVM, which
generates the inputs from the seed, runs the workload and writes its counts
and metrics; this script then checks the catalog lanes against their
reference SQL in DuckDB and prints, as the last line of stdout, one JSON
object with the keys correct, attempted, failed and metrics.

Exits non-zero without printing a result if the program cannot be built.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "bench-sources.sha256")
WORK = os.path.join(TARGET, "work")
BUILD_TIMEOUT_S = 700
JVM_TIMEOUT_S = 170
HEAP = "2g"

# what Spark needs opened on JDK 17 when not started by spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

CATALOG_TABLES = ["documents", "embeddings", "orders", "lineitem"]


def note(msg):
    print(f"[etlbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars the engine compiles and runs against: $SPARK_HOME/jars,
    else the directory the engine's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        d = os.path.join(home, "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        d = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"etlbench: no Spark jars with a Scala compiler in {d!r}")
    return jars


def sources():
    """Every main source file of the engine and the benchmark."""
    out = []
    for r in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(r):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.isfile(exe) else (shutil.which("java") or "java")


def build():
    """Compile engine and benchmark with the Scala compiler that ships with
    Spark, so that a build needs only java; return the runtime classpath.
    The compiled classes are reused until a source file changes."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("etlbench: no engine sources next to the benchmark")
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    resources = [os.path.join(ROOT, "src", "main", "resources"),
                 os.path.join(HERE, "src", "main", "resources")]
    cp = os.pathsep.join([CLASSES] + resources + jars)
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return cp
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # scalac splits an argument file at blanks, so name files from ROOT
    argfile = os.path.join(TARGET, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(
            ["-d", os.path.relpath(CLASSES, ROOT),
             "-classpath", os.pathsep.join(jars), "-nowarn",
             "-Ybackend-parallelism", str(len(os.sched_getaffinity(0)))]
            + [os.path.relpath(f, ROOT) for f in srcs]) + "\n")
    note(f"compiling engine and benchmark ({len(srcs)} files)")
    try:
        p = subprocess.run(
            [java(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(jars),
             "scala.tools.nsc.Main", "@" + argfile],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"etlbench: build took over {BUILD_TIMEOUT_S} s")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"etlbench: build failed (scalac exit {p.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return cp


def run_jvm(cp, args, result):
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so that GC work does not follow heap-sizing heuristics
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "etlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(len(os.sched_getaffinity(0))),
            "--work", run_dir, "--result", result]
    p = subprocess.Popen(cmd, cwd=WORK, stdout=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        note(f"JVM still running after {JVM_TIMEOUT_S} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle_failures(oracle):
    """Compare each written lane result with its reference SQL in DuckDB,
    with the repository's own oracle compares (tools/check.py): the loose
    one on rounded values and the strict, dtype-sensitive one. A lane
    passes only if both do; one that fails fails every execution that
    hashed to its result."""
    failed = 0
    try:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import duckdb
        from check import canon, strict_compare
    except ImportError as e:
        note(f"cannot check lanes against reference SQL: {e}")
        return sum(v["passed"] for v in oracle["lanes"].values())
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'duckdb')}'")
    for t in CATALOG_TABLES:
        path = os.path.join(oracle["tables"], f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for lane, v in oracle["lanes"].items():
        why = None
        if not v["written"]:
            why = "no result written"
        elif v["sql"] is None:
            why = "no reference SQL"
        else:
            try:
                files = os.path.join(v["result"], "*.parquet")
                s = con.execute(f"SELECT * FROM read_parquet('{files}')")
                sc, sr = canon(s.fetchall(), [d[0] for d in s.description])
                o = con.execute(v["sql"])
                oc, orows = canon(o.fetchall(), [d[0] for d in o.description])
                if sc != oc:
                    why = f"columns {sc} != reference {oc}"
                elif sr != orows:
                    why = f"{len(sr)} rows differ from the reference's {len(orows)}"
                else:
                    why = strict_compare(files, con, v["sql"])
            except Exception as e:  # a broken result or SQL is a failure
                why = f"{type(e).__name__}: {e}"
        if why:
            note(f"{lane}: reference check failed: {why}")
            failed += v["passed"]
        else:
            note(f"{lane}: matches reference SQL")
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cd_full", "catalog_iter"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    code = run_jvm(cp, args, result)
    got = {"attempted": 1, "failed": 1, "metrics": {}, "extra": {}}
    if code == 0 and os.path.exists(result):
        with open(result) as fh:
            got = json.load(fh)
    else:
        note(f"JVM exited with {code}; the run counts as one failed operation")
    failed = got["failed"]
    if "oracle" in got["extra"]:
        failed += oracle_failures(got["extra"]["oracle"])
    if "digest" in got["extra"]:
        note(f"output digest {got['extra']['digest']}")
    shutil.rmtree(WORK, ignore_errors=True)

    metrics, missing = {}, []
    for m in wanted:
        v = got["metrics"].get(m["name"])
        if v is None:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": v[0] if v else 0, "unit": m["unit"]}
    if missing:
        # per-layer metrics of layers this workload does not run read 0
        families = sorted({n.rsplit(".", 1)[0] for n in missing})
        note(f"not measured on {args.workload}: {', '.join(families)}")
    correct = code == 0 and failed == 0 and (bool(args.trace) or not missing)
    print(json.dumps({"correct": correct, "attempted": got["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
