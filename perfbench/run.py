#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
source (scalac over src/main/scala plus this harness, into .bench_build/);
later runs reuse the build while the sources are unchanged. Inputs are
generated from --seed into .bench_work/, the JVM side (perfbench/scala)
drives graft's public functions and writes raw records, and this script
checks the outputs and prints the metrics: the end-to-end ones with
--trace 0, the per-layer ones with --trace 1. The last stdout line is the
result object; a failure before a result exists exits non-zero instead.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170          # the whole run, build excepted
CORES = min(4, os.cpu_count() or 1)

MEDALLION_ROUNDS = 6      # timed rounds the drops can feed; the warm round takes drop 1
STREAM_DOCS, STREAM_BATCH_DOCS = 200, 100

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graft benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's own
    `unmanagedBase` (build.sbt)."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob_one(c, "scala-compiler-") and glob_one(c, "spark-sql_"):
            return c
    fail("no Spark jar directory with scala-compiler (set SPARK_HOME)")


def glob_one(d, prefix):
    return os.path.isdir(d) and any(n.startswith(prefix) for n in os.listdir(d))


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    out = []
    for r in roots:
        for dp, _, names in os.walk(r):
            out += [os.path.join(dp, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile once per source state; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, inputs):
    """Generates the workload's inputs; returns (manifest, input dirs)."""
    if workload == "medallion":
        return gen.medallion(inputs, seed, MEDALLION_ROUNDS + 1)
    gen.tables(inputs, seed)
    return gen.stream(inputs, seed, STREAM_DOCS, STREAM_BATCH_DOCS)


def input_bytes(workload, inputs, ops):
    """Bytes of the generated input the run consumed."""
    if workload == "corpus":
        return os.path.getsize(os.path.join(inputs, "arrivals.parquet"))
    last = max(int(o["name"][4:]) for o in ops if o["name"].startswith("drop"))
    files = [os.path.join(inputs, "load_config.csv")]
    for dp, _, names in os.walk(os.path.join(inputs, "landing")):
        files += [os.path.join(dp, f) for f in names if int(f[5:8]) <= last]
    return sum(os.path.getsize(f) for f in files)


def jvm_params(workload):
    return {"queries": ",".join(layers.QUERIES)} if workload == "corpus" else {}


def run_jvm(classes, jars, workload, inputs, work, seconds, trace, deadline):
    out = os.path.join(work, "result.json")
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write counters outside the checkout
    cmd += ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-Xss4m",
            "-Duser.timezone=UTC", "-Dspark.callstack.depth=80",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graftbench.Main", "--workload", workload, "--inputs", inputs,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(CORES), "--out", out]
    for k, v in jvm_params(workload).items():
        cmd += ["--param", f"{k}={v}"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, MALLOC_ARENA_MAX="8", MALLOC_MMAP_THRESHOLD_="134217728",
               MALLOC_TRIM_THRESHOLD_="134217728", SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("timed out; see .bench_work/<workload>/jvm.log")
    if rc != 0 or not os.path.isfile(out):
        fail(f"JVM exited with {rc}; see {os.path.relpath(work, ROOT)}/jvm.log")
    with open(out) as f:
        return json.load(f)


# ----------------------------------------------------------------- result

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["medallion", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) beside perfbench/")
    jars = spark_jars()
    classes = build(jars)

    t0 = time.monotonic()
    deadline = t0 + DEADLINE_S
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    manifest = make_inputs(a.workload, a.seed, inputs)
    gen_s = time.monotonic() - t0
    raw = run_jvm(classes, jars, a.workload, inputs, work, a.seconds, a.trace, deadline)

    results = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
    if a.workload == "medallion":
        results += checks.medallion_counts(manifest, raw["counters"])
    else:
        results += checks.catalog_outputs(inputs, os.path.join(work, "outputs"), layers.QUERIES)
    for name, ok, detail in results:
        if not ok:
            print(f"check failed: {name}: {detail}", file=sys.stderr)

    ops = raw["ops"]
    attempted = len(ops) + len(raw["warm_ops"])
    failed = min(attempted, sum(not o["ok"] for o in ops) + sum(not ok for _, ok, _ in results))
    if a.trace:
        values = layers.per_layer(raw, a.workload,
                                  input_bytes(a.workload, inputs, raw["ops"] + raw["warm_ops"]), work)
    else:
        values = layers.end_to_end(raw, gen_s)
    units = layers.unit
    for k, v in values.items():
        print(f"{k:40s} {v:>16.6g} {units(k)}")
    main_ops = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops if o["kind"] in ("query", "batch")]
    if len(main_ops) >= 40:  # the tail needs enough ops beyond it to mean anything
        pct, v = metrics.tail(main_ops)
        print(f"{'op tail (p%.1f of %d ops)' % (pct, len(main_ops)):40s} {v:>16.6g} s")
    print(f"{'ops attempted':40s} {attempted:>16d}\n{'ops failed':40s} {failed:>16d}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units(k)} for k, v in values.items()}}))


if __name__ == "__main__":
    main()
