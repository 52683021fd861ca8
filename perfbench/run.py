#!/usr/bin/env python3
"""Workload benchmark of the graft engine.

    python3 perfbench/run.py --workload point_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Compiles the engine (src/main/scala) and
the benchmark (perfbench/scala) with the Scala compiler that ships with the
Spark distribution the repository builds against, once per source hash,
into .bench_build/perfbench. Then runs one workload in one JVM, pinned to
this machine's shape (SPARK_GRAFT_CPUS = cores available, driver memory
from MemTotal, as the repository's test command does), checks every
response against the generator's truth model and prints two JSON lines:
the run under the workload's own metric names with its context, and last
the metrics line. --trace 0 reports the end-to-end metrics; --trace 1 the
per-layer metrics, spans (written under .bench_build) and tracing overhead.
A run that fails, crashes or runs out of time still prints both lines, its
unmeasured metrics null and `correct` false, and then exits non-zero.
"""

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("point_read", "ingest_compact", "dedup_batch")
# Wall-time limits on one run of this script: RUN_LIMIT_S, or
# BUILD_RUN_LIMIT_S for a run that compiles. The JVM gets what is left,
# less MARGIN_S for its shutdown and the summary.
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880
MARGIN_S = 10
BUILD_TIMEOUT_S = 800
# Same module openings as build.sbt's javaOptions (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A probe this much slower than the checkout's best reading flags the run.
PROBE_BAND = 2.0


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    die("no Spark jars found (set SPARK_HOME or build.sbt unmanagedBase)")


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/scala"):
        d = os.path.join(root, base)
        if not os.path.isdir(d):
            die("missing %s: run from the root of a full checkout" % base)
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, out_dir, jars):
    """Compile once per source hash into one jar; concurrent runs wait on a
    lock. Returns the jar's path and whether this call compiled it."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    jar = os.path.join(out_dir, "classes-" + h.hexdigest()[:16] + ".jar")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(jar):
            return jar, False
        tmp = os.path.join(out_dir, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out_dir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        # an empty working directory: scalac's default class path is "."
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, cwd=tmp,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            die("compile failed")
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for dirpath, _, files in os.walk(tmp):
                for f in files:
                    path = os.path.join(dirpath, f)
                    z.write(path, os.path.relpath(path, tmp))
        os.replace(jar + ".tmp", jar)
        shutil.rmtree(tmp, ignore_errors=True)
        print("perfbench: compiled %d sources in %.1fs" % (len(srcs), time.time() - t0),
              file=sys.stderr)
        return jar, True


def machine_shape():
    """Cores available and the driver heap in GiB: half of MemTotal, within
    2 to 8, as the repository's test command sets SPARK_DRIVER_MEM."""
    cpus = len(os.sched_getaffinity(0))
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(int(line.split()[1]) / 2097152)
    except OSError:
        pass
    return cpus, min(8, max(2, gib))


def out_of_band(out_dir, workload, probes):
    """Compare probes with the best readings of the same workload seen in
    this checkout (a probe reads a JVM in the state the workload's set-up
    left it); record the new best. Returns the probes that read slower than
    the band."""
    path = os.path.join(out_dir, "probe_floor.json")
    with open(os.path.join(out_dir, "probe.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        floor = json.load(open(path)) if os.path.exists(path) else {}
        best = floor.setdefault(workload, {})
        flags = [k for k, v in probes.items()
                 if v is not None and k in best and v > PROBE_BAND * best[k]]
        for k, v in probes.items():
            if v is not None:
                best[k] = min(v, best.get(k, v))
        with open(path + ".tmp", "w") as f:
            json.dump(floor, f)
        os.replace(path + ".tmp", path)
    return flags


def run_jvm(cmd, env, cwd, log_path, raw_path, timeout):
    """Run the benchmark JVM; return its raw result and exit code. A run
    that timed out or wrote no result comes back as a raw dict with
    `fatal`, so it is still reported."""
    with open(log_path, "wb") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                                timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            return {"fatal": "timed out after %.0f s" % timeout}, "timeout"
    if not os.path.exists(raw_path):
        return {"fatal": "no result (exit %s)" % rc}, rc
    return json.load(open(raw_path)), rc


def main(argv=None):
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    jars = spark_jars(root)
    jar, compiled = build(root, out_dir, jars)

    cpus, heap_gib = machine_shape()
    mem = "%dg" % heap_gib
    tag = "%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid())
    work = os.path.join(out_dir, "runs", tag)
    tmp = os.path.join(out_dir, "tmp")
    results = os.path.join(out_dir, "results")
    for d in (work, tmp, results):
        os.makedirs(d, exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    timeout = ((BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S)
               - (time.time() - started) - MARGIN_S)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=tmp)
    env.pop("OMP_NUM_THREADS", None)
    # The heap starts at half its maximum: grown from the JVM's default
    # initial size, the passes right after warm-up ran up to half again
    # slower and varied more; starting at the maximum doubled the resident
    # memory for little more.
    cmd = (["java", "-Xmx" + mem, "-Xms%dm" % (heap_gib * 512), "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dderby.system.home=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--budget", "%.1f" % (timeout - MARGIN_S),
              "--work", work, "--out", raw_path, "--slab", os.path.join(out_dir, "ioslab")])
    log_path = os.path.join(results, tag + ".log")
    raw, rc = run_jvm(cmd, env, work, log_path, raw_path, timeout)
    raw.setdefault("workload", args.workload)
    flags = out_of_band(out_dir, args.workload, raw.get("probes", {}))
    line, report = metrics.summarize(raw, args.trace == 1)
    report["context"]["out_of_band_probes"] = flags
    report["context"]["jvm_exit"] = rc
    if args.trace == 1 and raw.get("spans_file") and os.path.exists(raw["spans_file"]):
        spans = os.path.join(results, tag + ".spans.jsonl")
        shutil.move(raw["spans_file"], spans)
        report["context"]["spans_file"] = os.path.relpath(spans, root)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"raw": raw, "report": report, "line": line}, f)
    shutil.rmtree(work, ignore_errors=True)
    if flags:
        print("perfbench: out-of-band probes %s (kept, not retried)" % flags, file=sys.stderr)
    for e in raw.get("errors", []):
        print("perfbench: FAILED " + e, file=sys.stderr)
    print(json.dumps({"perfbench": args.workload, **report}, sort_keys=False))
    print(json.dumps(line), flush=True)
    if rc != 0 or "fatal" in raw:
        die("run did not finish (exit %s, %s); log: %s" % (rc, raw.get("fatal"), log_path))


if __name__ == "__main__":
    main()
