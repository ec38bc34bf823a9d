#!/usr/bin/env python3
"""Medallion benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source on first use (scalac
from the jar directory the program's build.sbt names), generates the
seeded inputs, runs the workload in one JVM with the program's own
Spark session factory, checks the outputs and prints the metrics as the last line of standard output:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The run environment (cores, heap, scheduler mode, input
dir, seed, source hash) is printed on the line before and kept in
perfbench/work/results.jsonl. Exits non-zero when an output check
fails or the run cannot complete.
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
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD_STAMP = os.path.join(WORK, "build", "stamp")
CLASSPATH = os.path.join(WORK, "build", "classpath")
ARCHIVE = os.path.join(WORK, "build", "app.jsa")
DEADLINE_S = 175

# Input scale of both workloads. The program is overhead-bound at this
# size (thousands of small Spark jobs), so a full-refresh pass still
# costs tens of seconds; see perfbench/README.md.
SF = 0.0003
DELTAS = 8  # more than any run applies

END_TO_END = [("setup_s", "s"), ("build_s", "s"), ("op_geomean_s", "s"), ("ops_per_s", "1/s")]

ETL_SPANS = ["bronze", "silver", "gold.marts", "gold.dq", "inc.upsert",
             "inc.silver", "inc.monthly", "inc.supplier", "inc.dashboard"]
SPAN_COUNTERS = [("s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("output_bytes", "bytes")]
PREPS = ["prep_demand_series", "prep_forecast_backtest"]
MODULES = ["GoldMarts", "Eda", "SilverClean", "SilverLayer", "TextOps", "CorpusOps",
           "VectorOps", "EventOps", "Forecast", "GlobalAR", "Forecasting", "Backtest",
           "DqChecks", "Multimodal"]
PER_LAYER = (
    [(f"{s}.{c}", u) for s in ETL_SPANS for c, u in SPAN_COUNTERS]
    + [("pipeline.excl_forecast_s", "s"), ("inc.write_amp", "ratio")]
    + [(f"prep.{p}.s", "s") for p in PREPS]
    + [(f"mod.{m}.{c}", u) for m in MODULES for c, u in [("s", "s"), ("jobs", "count")]]
    + [("trace.build_s", "s"), ("trace.op_geomean_s", "s"), ("trace.listener_s", "s"),
       ("trace.overhead_pct", "%"), ("jvm.peak_rss_mb", "MB")])

WORKLOADS = ("etl", "query_surface")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """Half of physical memory, 2g..8g (the Tier-1 verify rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def jar_dir():
    """The Spark and Scala jars the program compiles and runs against:
    the `unmanagedBase` its build.sbt names, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = (os.path.join(ROOT, m.group(1)) if m
         else os.path.join(os.environ.get("SPARK_HOME", ""), "jars"))
    if not os.path.isdir(d):
        raise SystemExit(f"jar directory {d} not found")
    return d


def scala_sources():
    """Every Scala source of the program and of the harness."""
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        for d, _, files in sorted(os.walk(base)):
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    return out


def sources_hash(jars):
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(ROOT, "build.sbt"), "rb") as fh:
        h.update(b"build.sbt" + fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except BaseException as e:  # timeout, or this script being stopped
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        if isinstance(e, subprocess.TimeoutExpired):
            raise SystemExit(f"{cmd[0]} exceeded {timeout:.0f}s")
        raise
    return proc.returncode, out, err


def build(jars, stamp):
    """Compile program + harness with scalac from the jar directory,
    unless the sources are unchanged since the last build. Everything
    the compiler writes stays under perfbench/work/build. Returns
    (classpath, built)."""
    if os.path.exists(BUILD_STAMP) and os.path.exists(CLASSPATH):
        with open(BUILD_STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as f2:
                    return f2.read(), False
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-",
                                            os.path.basename(j))]
    if len(compiler) < 3:
        raise SystemExit("scala-compiler, -library or -reflect jar missing")
    classes = os.path.join(WORK, "build", "classes")
    tmp = os.path.join(WORK, "build", "tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    log("building program and harness (scalac)")
    cmd = (["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
            "-d", classes, "-classpath", ":".join(jars)] + scala_sources())
    rc, out, err = run_group(cmd, 600, cwd=HERE, stdout=subprocess.PIPE,
                             stderr=subprocess.PIPE, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit("build failed")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    # class-data sharing maps jars only, not class directories
    app_jar = os.path.join(WORK, "build", "app.jar")
    with zipfile.ZipFile(app_jar, "w") as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    cp = ":".join([app_jar] + jars)
    dump_archive(cp)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(BUILD_STAMP, "w") as f:
        f.write(stamp)
    return cp, True


def dump_archive(cp):
    """A class-data archive of what the JVM loads to start the program's
    Spark session. Every run maps it and starts about 5 s sooner, which
    keeps a full evaluation within its time limit. The classes a
    workload loads after set-up are not in it, so the measured phases
    still load them cold."""
    run_dir = os.path.join(WORK, "build", "archive-run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("dumping the class-data archive")
    # the session factory reads the source, so the archive run gets one
    src, _ = generate("query_surface", 0, run_dir)
    rc = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                 ["--workload", "setup", "--seed", "0", "--seconds", "0", "--trace", "0",
                  "--src", src, "--work", run_dir,
                  "--out", os.path.join(run_dir, "result.json")], run_dir, src, 120)
    if rc != 0 or not os.path.exists(ARCHIVE):
        log(f"no class-data archive (see {run_dir}/jvm.log); runs start without it")


def generate(workload, seed, run_dir):
    """Seeded inputs under run_dir; returns (src dir, deltas dir)."""
    sys.path.insert(0, HERE)
    import gen
    src = os.path.join(run_dir, "src")
    deltas = os.path.join(run_dir, "deltas")
    gen.write_source(seed, SF, src, dirty_rows=(workload == "etl"))
    if workload == "etl":
        gen.write_deltas(seed, SF, DELTAS, deltas)
    return src, deltas


JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, opts, args, run_dir, src, budget):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(os.cpu_count() or 1)
    try:
        cpus = str(len(os.sched_getaffinity(0)))
    except AttributeError:
        pass
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_SF_DIR=src,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("SPARK_GRAFT_SCHED", None)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}"] + opts + [
            "-cp", cp, "perfbench.Main"] + args
    log(f"running {' '.join(args)}")
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        return run_group(cmd, budget, cwd=run_dir, env=env, stdout=logf,
                         stderr=subprocess.STDOUT)[0]


def main():
    t_start = time.monotonic()
    # a SIGTERM unwinds like Ctrl-C, so run_group stops its child first
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    ap = argparse.ArgumentParser(description="Medallion benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("program sources (src/main/scala) not found next to perfbench/")
    jars = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    stamp = sources_hash(jars)
    cp, built = build(jars, stamp)
    # a run that had to build may take longer; the JVM's own budget
    # starts when the build is done
    t0 = time.monotonic() if built else t_start

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    src, deltas = generate(a.workload, a.seed, run_dir)
    out = os.path.join(run_dir, "result.json")
    hashes = os.path.join(WORK, "hashes", f"{a.workload}-{a.seed}-{SF}-{stamp[:16]}.tsv")
    budget = DEADLINE_S - (time.monotonic() - t0)
    opts = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    rc = run_jvm(cp, opts, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--src", src, "--deltas", deltas,
                      "--work", run_dir, "--out", out, "--hashes", hashes],
                 run_dir, src, budget)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"harness exited {rc}; see {run_dir}/jvm.log")
    with open(out) as f:
        res = json.load(f)

    wanted = PER_LAYER if a.trace else END_TO_END
    got = res["metrics"]
    problems = list(res["problems"])
    metrics = {}
    for name, unit in wanted:
        if name in got:
            metrics[name] = {"value": got[name]["value"], "unit": unit}
        elif a.trace:
            # a layer this workload never reaches did no work
            metrics[name] = {"value": 0, "unit": unit}
        else:
            problems.append(f"metric {name} missing")
    if not a.trace:
        problems += [f"metric {n} is {m['value']}" for n, m in metrics.items()
                     if not m["value"] or m["value"] <= 0]
    correct = bool(res["correct"]) and not problems and res["attempted"] >= 1
    env = dict(res["env"], workload=a.workload, trace=a.trace, sf=SF,
               source_hash=stamp[:16], git_commit=git_commit())
    record = {"env": env, "problems": problems, "metrics": metrics}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    sys.exit(main())
