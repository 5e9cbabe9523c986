#!/usr/bin/env python3
"""Relay + lake benchmark.

    python3 perfbench/run.py --workload relay_backlog --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run compiles the program's
sources (src/main/scala) and the benchmark's (perfbench/scala) with the
Scala compiler among the Spark jars named by build.sbt's unmanagedBase,
packs them into jars and writes a class-data archive for the runs' JVMs,
all into .bench_build/; later runs reuse that build while the sources are
unchanged. Each run is one JVM; the last line of standard output is one
JSON object with correct / attempted / failed / metrics, holding exactly
END_TO_END below. `--trace 1` reports PER_LAYER instead and writes the spans to
.bench_build/trace/. `--smoke` runs every workload at a tiny size with
all output checks on, and exits non-zero if any check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

T0 = time.monotonic()
WORKLOADS = ["relay_live", "relay_backlog", "lake_queries"]
# The metrics every workload reports, with their units: END_TO_END
# untraced, PER_LAYER traced. Each is a median over the run's timed
# operations (a live batch, a backlog drain, a lake pass), except
# setup_s, the median of the run's set-ups.
END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms"}
PER_LAYER = {
    "driver.cpu_ms_per_op": "ms", "tasks.cpu_ms_per_op": "ms",
    "jobs.per_op": "count", "tasks.per_op": "count",
    "tasks.input_records_per_op": "count", "tasks.output_bytes_per_op": "B",
    "tasks.shuffle_bytes_per_op": "B",
}
BUILD = ".bench_build"
XCHECK = "tools/xcheck.py"
JVM_LIMIT_S = 170
# The JVM stops at the C1 compiler, so every figure is a C1 figure and can
# rank a change differently from the program's default tiered JIT (see
# perfbench/README.md). Under the default JIT, C2 kept recompiling for
# longer than a run can last (relay_live for 86 batches, relay_backlog
# for 8 drains, lake_queries for 13 passes), so a run timed a slope; under
# C1 the cost per operation is flat after about ten batches.
JIT = ["-XX:TieredStopAtLevel=1"]
# No hsperfdata file under /tmp: a run writes only inside its checkout.
NO_PERF_DATA = "-XX:-UsePerfData"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    if not os.path.isfile("build.sbt"):
        fail("no build.sbt here: run from the root of a checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        fail("build.sbt names no jar directory that holds the Scala compiler")
    return m.group(1)


def fixture_dir(sf):
    """The fixture directory TESTDATA.md lists for scale factor `sf`."""
    if not os.path.isfile("TESTDATA.md"):
        fail("no TESTDATA.md here: the lake workload cannot find its tables")
    for line in open("TESTDATA.md"):
        cells = [c.strip().strip("`") for c in line.split("|")]
        if len(cells) > 2 and cells[1] == sf:
            return cells[2].rstrip("/")
    fail(f"TESTDATA.md lists no sf {sf} directory")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, out, classpath, files):
    comp = [glob.glob(os.path.join(jars, f"scala-{p}-*.jar"))[0]
            for p in ("compiler", "library", "reflect")]
    os.makedirs(out)
    subprocess.run(
        ["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", ":".join(comp), "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", ":".join(classpath)] + files,
        check=True, stdout=sys.stderr)


def pack(classes, jar):
    """Packs a class directory into a jar: the JVM's class-data archive
    takes classes from jars only."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for root, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(root, f)
                z.write(path, os.path.relpath(path, classes))


def jvm_cmd(classes, jars, args, extra=()):
    return (["java", NO_PERF_DATA, "-Xmx3g"] + JIT + list(extra)
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}/bench.jar:{classes}/main.jar:{jars}/*", "perfbench.Main"]
            + [str(a) for a in args])


def archive(classes, jars):
    """Writes the class-data archive the runs start from: a smoke run of
    the workloads dumps every class it loaded. Spark's start-up then
    loads its classes from the archive instead of 287 jars (session ready
    in about 6 s rather than 11 on a 4-cpu VM). Without the archive the
    runs still work, only slower to start."""
    work = os.path.abspath(os.path.join(BUILD, f"work-archive-{os.getpid()}"))
    jsa = os.path.join(classes, "app.jsa")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        subprocess.run(
            jvm_cmd(classes, jars, ["train", 1, 1, 0, work, 1, fixture_dir("0.001")],
                    [f"-XX:ArchiveClassesAtExit={jsa}.tmp", f"-Djava.io.tmpdir={work}/tmp"]),
            stdout=subprocess.DEVNULL, stderr=sys.stderr, timeout=600, check=True)
        os.rename(f"{jsa}.tmp", jsa)
    except (subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: no class-data archive ({e}); runs start slower", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(jars):
    """Compiles program and benchmark once per source fingerprint."""
    main_src, bench_src = sources("src/main/scala"), sources("perfbench/scala")
    if not main_src or not bench_src:
        fail("no Scala sources under src/main/scala and perfbench/scala")
    h = hashlib.sha256()
    for f in main_src + bench_src:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    target = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(target):
        tmp = f"{target}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        jar_list = sorted(glob.glob(os.path.join(jars, "*.jar")))
        print("perfbench: compiling the program and the benchmark", file=sys.stderr)
        scalac(jars, f"{tmp}/main", jar_list, main_src)
        scalac(jars, f"{tmp}/bench", [f"{tmp}/main"] + jar_list, bench_src)
        for part in ("main", "bench"):
            pack(f"{tmp}/{part}", f"{tmp}/{part}.jar")
            shutil.rmtree(f"{tmp}/{part}")
        os.rename(tmp, target)
        archive(os.path.abspath(target), jars)
    return os.path.abspath(target)


def steal_ticks():
    """(steal, total) jiffies of the host's cpus, for context only."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def run_jvm(classes, jars, workload, seed, seconds, trace, smoke, sf_dir):
    work = os.path.abspath(os.path.join(BUILD, f"work-{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{workload}-seed{seed}-trace{trace}.log")
    jsa = os.path.join(classes, "app.jsa")
    cmd = jvm_cmd(classes, jars,
                  [workload, seed, seconds, trace, work, 1 if smoke else 0, sf_dir],
                  [f"-Djava.io.tmpdir={work}/tmp"]
                  + ([f"-XX:SharedArchiveFile={jsa}"] if os.path.isfile(jsa) else []))
    s0 = steal_ticks()
    try:
        with open(log, "w") as err:
            try:
                p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                   timeout=max(10, JVM_LIMIT_S - (time.monotonic() - T0)))
            except subprocess.TimeoutExpired:
                fail(f"{workload} JVM did not finish within {JVM_LIMIT_S} s; log {log}")
        s1 = steal_ticks()
        lines = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if p.returncode != 0 or not lines:
            tail = open(log).read()[-3000:]
            fail(f"{workload} JVM exited with {p.returncode}; log {log}:\n{tail}")
        res = json.loads(lines[-1].split(" ", 1)[1])
        steal = (s1[0] - s0[0]) / max(1, s1[1] - s0[1])
        res["context"].append(f"host steal share over the run: {100 * steal:.2f}%")
        if workload == "lake_queries":
            lake_check(res, os.path.join(work, "lake_out"), sf_dir)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def oracle_verdicts(sf_dir, out_dir):
    """{query name: None if its output matches its DuckDB oracle, else the
    reason}, from the repo's own cross-check, tools/xcheck.py, which prints
    `PASS <name>` or `FAIL <name>: <reason>` per query. A query without
    such a line fails, and so does every query when the check exits
    non-zero without a FAIL line."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        verdict = {n: f"{XCHECK} printed no verdict" for n in json.load(f)}
    try:
        p = subprocess.run([sys.executable, XCHECK, sf_dir, out_dir], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=max(5, JVM_LIMIT_S + 5 - (time.monotonic() - T0)))
    except subprocess.TimeoutExpired:
        return {n: f"{XCHECK} did not finish" for n in verdict}
    failed = False
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) ([^\s:]+)(.*)", line)
        if m and m.group(2) in verdict:
            failed |= m.group(1) == "FAIL"
            verdict[m.group(2)] = None if m.group(1) == "PASS" else m.group(3).lstrip(": ")
    if p.returncode != 0 and not failed:
        tail = p.stdout[-300:].replace("\n", " ")
        return {n: f"{XCHECK} exited with {p.returncode}: {tail}" for n in verdict}
    return verdict


def lake_check(res, out_dir, sf_dir):
    """Counts every run of a query whose output differs from its oracle
    as a failed operation."""
    verdict = oracle_verdicts(sf_dir, out_dir)
    bad = sorted(set(n for n, v in verdict.items() if v) - set(res["failed_names"]))
    for n in bad:
        res["context"].append(f"oracle mismatch {n}: {verdict[n]}"[:400])
    queries = len(verdict)
    rounds = res["attempted"] // max(1, queries)
    res["failed"] += len(bad) * rounds
    res["context"].append(
        f"oracle check: {queries - len(bad) - len(res['failed_names'])} of {queries} "
        "query outputs match DuckDB")


def report(res, trace):
    for c in res["context"]:
        print(f"context: {c}")
    if trace:  # for the tracing overhead; end-to-end figures come from untraced runs
        print("context: end-to-end under tracing: " + ", ".join(
            f"{k}={v:.6g}" for k, v in sorted(res["metrics"].items())))
    vals, units = (res["layers"], PER_LAYER) if trace else (res["metrics"], END_TO_END)
    if set(vals) != set(units) or any(not isinstance(v, (int, float)) for v in vals.values()):
        fail(f"the workload reported {sorted(vals)}, not the metrics {sorted(units)}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": vals[k], "unit": u} for k, u in sorted(units.items())},
    }))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    jars = spark_jars()
    if not os.path.isfile(XCHECK):
        fail(f"no {XCHECK} here: the lake outputs cannot be checked")
    classes = build(jars)
    global T0
    T0 = time.monotonic()  # the build is allowed its own time budget
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            res = run_jvm(classes, jars, w, a.seed, 1, 1, True, fixture_dir("0.001"))
            good = res["correct"] and res["failed"] == 0
            ok &= good
            print(f"smoke {w}: {'ok' if good else 'FAILED'} "
                  f"({res['attempted']} attempted, {res['failed']} failed)")
            report(res, 0)
            report(res, 1)
        sys.exit(0 if ok else 1)
    res = run_jvm(classes, jars, a.workload, a.seed, a.seconds, a.trace, False,
                  fixture_dir("0.01"))
    report(res, a.trace)


if __name__ == "__main__":
    main()
