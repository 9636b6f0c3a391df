#!/usr/bin/env python3
"""Benchmark harness: build the engine with the benchmark driver, run one
workload in a fresh JVM, check its outputs and print one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics of a separate traced run. --record FILE also appends the
full record (result, raw outputs, errors, spans) to FILE as one JSON line,
for perfbench/compare.py.

The first run compiles the engine's sources (src/main/scala) and the
driver's (perfbench/src) with the Scala compiler that ships in the Spark
jars the engine builds against, into perfbench/target; later runs reuse the
classes while the sources are unchanged.
Everything a run writes goes under perfbench/.work and is removed after it.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
DEADLINE_S = 175  # a run must end within 180 s; the build has its own

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    """The JDK's java: $JAVA_HOME/bin/java, else the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or die("no java (JAVA_HOME or PATH)")


def spark_jars():
    """The Spark jars the engine compiles and runs against: the root build's
    unmanagedBase, else $SPARK_HOME/jars. They ship the Scala compiler."""
    cands = []
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        cands.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    die("no Spark jars with the Scala compiler (root build.sbt unmanagedBase, SPARK_HOME)")


def sources():
    return sorted(os.path.join(d, f) for r in (os.path.join(ROOT, "src", "main", "scala"),
                                               os.path.join(HERE, "src", "main", "scala"))
                  for d, _, fs in os.walk(r) for f in fs if f.endswith(".scala"))


def build():
    """Compile the engine and the driver with scalac once per source state
    (no sbt, so nothing is written outside the checkout); return the
    runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for p in srcs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(TARGET, "classes")
    cp = f"{classes}:{jars}/*"
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    shutil.rmtree(TARGET, ignore_errors=True)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    args_file = os.path.join(TARGET, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes, f"@{args_file}"]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=700)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if proc.returncode != 0:
        sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
        die("build failed")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--record", help="append the full record to this JSONL file")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    with open(os.path.join(HERE, "workloads.json")) as f:
        design = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    w = design["workloads"].get(a.workload)
    if w is None:
        die(f"unknown workload {a.workload}")

    cp = build()
    started = time.monotonic()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = [java(), "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", os.path.join(HERE, design["data"]),
            "--work", work, "--out", out]
    for k, v in w["params"].items():
        cmd += [f"--{k}", str(v)]
    try:
        # the JVM's stdout is diagnostics too: only the result line goes to ours
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        die("workload timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        die(f"workload exited with {proc.returncode} and no record")
    with open(out) as f:
        rec = json.load(f)
    spans = None
    if a.trace == "1" and os.path.exists(os.path.join(work, "spans.json")):
        with open(os.path.join(work, "spans.json")) as f:
            spans = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    # outputs against the values frozen when the benchmark was defined
    errors = list(rec["errors"])
    attempted, failed = rec["attempted"], rec["failed"]
    for key, want in w.get("expected", {}).items():
        attempted += 1
        got = rec["outputs"].get(key)
        if got != want:
            failed += 1
            errors.append(f"output {key}: expected {want}, got {got}")

    if a.trace == "1":
        metrics = {m["name"]: {"value": rec["per_layer"].get(m["name"], {"value": 0.0})["value"],
                               "unit": m["unit"]} for m in contract["per_layer"]}
    else:
        metrics = {}
        for m in contract["end_to_end"]:
            v = rec["end_to_end"].get(m["name"])
            if v is None or v["value"] is None:
                die(f"workload reported no {m['name']}")
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": int(a.trace),
                                "result": result, "per_layer": rec["per_layer"],
                                "outputs": rec["outputs"], "errors": errors, "spans": spans}) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
