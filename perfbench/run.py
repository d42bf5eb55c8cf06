#!/usr/bin/env python3
"""Benchmark runner for the pipeline and the query suite.

Run from the root of a checkout:

    python3 perfbench/run.py --workload hourly_ticks --seed 1 --seconds 20 --trace 0

Builds the program and the harness (sbt, offline) when their sources
changed, starts one JVM for the run in a fresh working directory under
perfbench/.runs/, and prints one line per metric and, last, one JSON object
{"correct", "attempted", "failed", "metrics"}. The working directory (its
warehouse, checkpoints, Derby files and serving artifacts) is deleted when
the run ends. Traced runs (--trace 1) also write their spans to
perfbench/out/.

    python3 perfbench/run.py --record-queries

re-records reference/query_suite.json (see README.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUNS = os.path.join(BENCH, ".runs")
OUT = os.path.join(BENCH, "out")
STAMP = os.path.join(BENCH, "target", "perfbench-stamp")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath")
WORKLOADS = ("backfill", "hourly_ticks", "query_suite")
RUN_TIMEOUT_S = 170
# queries per query_suite pass: what a warm pass and the timed passes fit
# in a run
BENCHED_QUERIES = 10
BUILD_TIMEOUT_S = 700
HEAP = "3g"
SF_DIR = None  # set by main() from fixture_dir()
# what spark-submit adds on JDK 17 (launcher.JavaModuleOptions)
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


def fixture_dir():
    """The sf0.1 fixture: $PERFBENCH_SF, else the directory TESTDATA.md
    lists for scale factor 0.1."""
    if "PERFBENCH_SF" in os.environ:
        return os.environ["PERFBENCH_SF"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        m = None
    if not m:
        fail("no sf0.1 fixture directory: set PERFBENCH_SF")
    return m.group(1).rstrip("/")


def source_files():
    """Every file the build reads, program first, then harness."""
    out = []
    for base in (ROOT, BENCH):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(base, name)
            if os.path.isfile(p):
                out.append(p)
        for top, dirs, files in os.walk(os.path.join(base, "src", "main")):
            dirs.sort()
            out.extend(os.path.join(top, f) for f in sorted(files))
    return out


def stamp():
    h = hashlib.sha1()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness unless the sources are unchanged since the
    last build; return the runtime classpath."""
    want = stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == want:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    # runs load the harness from a per-build copy, so a rebuild never
    # swaps class files under a JVM that is still running
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    frozen = os.path.join(BENCH, "target", f"classes-{want[:12]}")
    shutil.rmtree(frozen, ignore_errors=True)
    shutil.copytree(classes, frozen)
    entries = [frozen if os.path.realpath(e) == os.path.realpath(classes) else e
               for e in cp[-1].strip().split(os.pathsep)]
    with open(CLASSPATH, "w") as f:
        f.write(os.pathsep.join(entries))
    with open(STAMP, "w") as f:
        f.write(want)
    return os.pathsep.join(entries)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, main_args, tag, timeout=RUN_TIMEOUT_S):
    """One JVM in a fresh working directory; returns (rc, log tail). The
    directory is deleted afterwards whatever happened."""
    work = os.path.join(RUNS, f"{tag}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    # a fixed-size heap: a growing one resizes through the first ops and
    # keeps them slow for longer
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--sf", SF_DIR, "--bench", BENCH] + main_args
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = -9
        os.makedirs(OUT, exist_ok=True)
        shutil.copy(log_path, os.path.join(OUT, f"{tag}.log"))
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-60:]
        return rc, "".join(tail)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args):
    cp = build()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    out = os.path.join(OUT, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out]
    if args.trace:
        main_args += ["--trace-out", os.path.join(OUT, f"{tag}_spans.json")]
    rc, tail = run_jvm(cp, main_args, tag)
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(tail)
        fail(f"run failed (exit {rc})")
    with open(out) as f:
        doc = json.load(f)
    doc["provenance"]["commit"] = commit() or f"source-sha1:{stamp()}"
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"provenance": doc["provenance"]}))
    for name, m in doc["result"]["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_ops = {doc['provenance']['failed_ops']:.6g} ratio")
    print(json.dumps(doc["result"]))


def record_queries():
    """Two record passes in two JVMs, merged: a query whose content hash
    differs between them is checked by row count only."""
    cp = build()
    paths = [os.path.join(OUT, f"record_{i}.json") for i in range(2)]
    for i, path in enumerate(paths):
        rc, tail = run_jvm(cp, ["--record", path], f"record{i}", timeout=3600)
        if rc != 0:
            sys.stderr.write(tail)
            fail("record pass failed")
    write_reference(paths)


def write_reference(paths):
    passes = []
    for path in paths:
        with open(path) as f:
            passes.append(json.load(f)["queries"])
    queries = {}
    for name in sorted(passes[0]):
        a, b = passes[0][name], passes[1].get(name, {})
        if "error" in a or "error" in b or a["rows"] != b["rows"]:
            fail(f"query {name} fails or is not repeatable: {a} / {b}")
        queries[name] = {
            "rows": a["rows"], "hash": a["hash"], "hash_stable": a["hash"] == b["hash"],
            "seconds": round((a["seconds"] + b["seconds"]) / 2, 4),
            "jobs": a["jobs"], "jobs_in_construct": a["jobs_in_construct"],
            "artifact_mb": a.get("artifact_mb", 0.0),
        }
    ref = {"dataset": os.path.basename(fixture_dir()),
           "count_only": sorted(n for n, q in queries.items() if not q["hash_stable"]),
           "benched": select_benched(queries), "queries": queries}
    with open(os.path.join(BENCH, "reference", "query_suite.json"), "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


def select_benched(queries, k=BENCHED_QUERIES):
    """The query in the middle of each of k equal strata of the recorded
    times, so fast and slow queries are both benched. In the stratum of the
    median-time artifact builder, that builder instead, so the warm pass
    always builds a serving artifact."""
    ranked = sorted(queries, key=lambda n: (queries[n]["seconds"], n))
    bounds = [j * len(ranked) // k for j in range(k + 1)]
    picks = [ranked[(bounds[j] + bounds[j + 1]) // 2] for j in range(k)]
    builders = [n for n in ranked if queries[n]["artifact_mb"] > 0]
    if builders:
        rank = ranked.index(builders[len(builders) // 2])
        picks[max(j for j in range(k) if bounds[j] <= rank)] = ranked[rank]
    return sorted(picks)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-queries", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources next to {BENCH}")
    global SF_DIR
    SF_DIR = fixture_dir()
    if not os.path.isfile(os.path.join(SF_DIR, "events.parquet")):
        fail(f"fixture directory {SF_DIR} not found (set PERFBENCH_SF)")
    if args.record_queries:
        record_queries()
    elif args.workload:
        run(args)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
