#!/usr/bin/env python3
"""Janino compiles per catalog_iter lane, per warm pass.

Usage:
  python3 tools/codegen_per_lane.py [--seed N] [--checkout DIR] [--work DIR]
  python3 tools/codegen_per_lane.py --logs STDERR EVENTLOG_DIR

The first form runs one untraced catalog_iter benchmark in DIR (default:
this checkout) with Spark's CodeGenerator logged at INFO (millisecond
timestamps) and the event log on, then prints the table; the second reads
the stderr and event-log directory of such a run.

Each compile logs `Code generated in N ms` once, on the driver or on a
task thread (one JVM in local mode), so the count covers both. A compile
is attributed to the lane execution it ran in: every lane execution ends
with the benchmark's digest SQL (`head at Main.scala:126`), and the lanes
run in CatalogBench.lanes order, eight digests per warm pass after the
cold phase's eight. Spark's generated-class cache holds 100 entries,
keyed by class loader and source, so a pass that needs more misses on
every compile. JAVA_TOOL_OPTIONS is passed on with the tool's own
options added, so `JAVA_TOOL_OPTIONS=-Dspark.sql.codegen.cache.maxEntries=5000`
shows what the misses cost.
"""
import collections
import glob
import json
import os
import re
import subprocess
import sys
import tempfile

LANES = ["gr12_scc", "gr3_kcore", "dd12_containment", "dd18_lsh_recall",
         "dd19_truth_cap", "ss10_semantic_dedup", "q30_salted_join",
         "dq15_provenance"]  # CatalogBench.lanes
DIGEST = "head at Main.scala:126"
COMPILE = re.compile(r"(\d{13}) INFO CodeGenerator: Code generated in ([\d.]+) ms")

LOG4J = """rootLogger.level = warn
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{UNIX_MILLIS} %p %c{1}: %m%n
logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.codegen.level = info
"""


def run(checkout, seed, work):
    """One untraced catalog_iter run with compile logging; returns the
    stderr path and the event-log directory."""
    os.makedirs(work, exist_ok=True)
    props = os.path.join(work, "codegen-log4j2.properties")
    with open(props, "w") as f:
        f.write(LOG4J)
    ev = os.path.join(work, "ev")
    os.makedirs(ev, exist_ok=True)
    err = os.path.join(work, "run.err")
    # kept: what the variable already holds (say, a larger codegen cache)
    env = dict(os.environ, JAVA_TOOL_OPTIONS=" ".join([
        os.environ.get("JAVA_TOOL_OPTIONS", ""),
        f"-Dlog4j2.configurationFile={props}",
        "-Dspark.eventLog.enabled=true", f"-Dspark.eventLog.dir={ev}"]).strip())
    with open(os.path.join(work, "run.out"), "w") as out, open(err, "w") as e:
        subprocess.run([sys.executable, "etlbench/run.py", "--workload",
                        "catalog_iter", "--seed", str(seed), "--seconds", "6",
                        "--trace", "0"], cwd=checkout, env=env, stdout=out,
                       stderr=e, check=True)
    return err, ev


def digest_ends(evdir):
    """End times of the lane digests, from the first session's event log
    (the later sessions only re-run set-up)."""
    f = sorted(glob.glob(os.path.join(evdir, "*", "events_*")) +
               glob.glob(os.path.join(evdir, "app-*")))[0]
    if f.endswith(".zstd"):
        log = subprocess.run(["zstd", "-dc", f], capture_output=True,
                             check=True).stdout.decode()
    else:
        log = open(f).read()
    desc, ends = {}, []
    for line in log.splitlines():
        e = json.loads(line)
        if e["Event"].endswith("SQLExecutionStart"):
            desc[e["executionId"]] = e.get("description", "")
        elif (e["Event"].endswith("SQLExecutionEnd") and
              desc.get(e["executionId"], "").startswith(DIGEST)):
            ends.append(e["time"])
    return sorted(ends)


def per_lane(err, evdir):
    """{lane: (compiles, Janino seconds)} per warm pass, and the pass count."""
    comp = sorted((int(m.group(1)), float(m.group(2)))
                  for line in open(err, errors="replace")
                  for m in [COMPILE.match(line)] if m)
    ends = digest_ends(evdir)
    i, per = 0, collections.defaultdict(lambda: [0, 0.0])
    for t, ms in comp:  # a compile belongs to the first digest ending after it
        while i < len(ends) and ends[i] < t:
            i += 1
        if i < len(ends):
            per[i][0] += 1
            per[i][1] += ms
    n = len(LANES)
    passes = (len(ends) - n) // n
    tot = collections.defaultdict(lambda: [0, 0.0])
    for j in range(n, n + n * passes):
        lane = LANES[(j - n) % n]
        tot[lane][0] += per[j][0]
        tot[lane][1] += per[j][1]
    return {l: (tot[l][0] / max(passes, 1), tot[l][1] / max(passes, 1) / 1000)
            for l in LANES}, passes


def main(argv):
    seed, checkout, work, logs = 12, ".", None, None
    it = iter(argv)
    for a in it:
        if a == "--seed":
            seed = int(next(it))
        elif a == "--checkout":
            checkout = next(it)
        elif a == "--work":
            work = next(it)
        elif a == "--logs":
            logs = (next(it), next(it))
        else:
            raise SystemExit(__doc__)
    if logs is None:
        work = work or tempfile.mkdtemp(prefix="codegen-per-lane-")
        logs = run(checkout, seed, work)
    lanes, passes = per_lane(*logs)
    print(f"{'lane':22s} {'compiles':>9s} {'Janino s':>9s}   "
          f"(per warm pass, {passes} passes)")
    for l in LANES:
        c, s = lanes[l]
        print(f"{l:22s} {c:9.1f} {s:9.3f}")
    print(f"{'all':22s} {sum(c for c, _ in lanes.values()):9.1f} "
          f"{sum(s for _, s in lanes.values()):9.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
