#!/usr/bin/env python3
"""graft benchmark: build the engine from this checkout, run one workload in
one JVM (Spark at local[<cores>] inside it), check its outputs, and print one
JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: batch, ingest_stream (BENCHMARK.json says why each). --trace 0
prints the end-to-end metrics; --trace 1 prints the per-layer metrics and
writes the per-query and per-microbatch records to perfbench/traces/.
`--pin` rewrites pins.json from a batch run instead of checking against it.

Needs a JDK 17, sbt (offline caches suffice) and a Spark 4 distribution
(SPARK_HOME, or spark-submit on PATH).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch", "ingest_stream")
PINS = os.path.join(HERE, "pins.json")
TRACES = os.path.join(HERE, "traces")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
RUN_LIMIT_S = 150
BUILD_LIMIT_S = 800
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def sources_digest():
    """Digest of everything the build compiles, to skip rebuilding."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.server.autostart=false", "compile"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        fail(f"build failed, see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, env, work, out):
    jars = os.path.join(env["SPARK_HOME"], "jars", "*")
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{jars}", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}:\n{tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: run from a full checkout", 2)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    build(env)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    try:
        run_jvm(args, env, work, out)
        with open(out) as fh:
            raw = json.load(fh)
        if args.trace:
            os.makedirs(TRACES, exist_ok=True)
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(TRACES, f"{args.workload}-seed{args.seed}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cores = os.cpu_count() or 1
    if args.workload == "batch":
        if args.pin:
            write_pins(raw)
        with open(PINS) as fh:
            pins = json.load(fh)
        e2e, layer, attempted, failed, msgs = metrics.batch_metrics(
            raw, pins.get(str(raw["variant"]), {}), cores)
    else:
        e2e, layer, attempted, failed, msgs = metrics.stream_metrics(raw, cores)
    layer.update(metrics.common_layers(raw))
    layer["failed_frac"] = failed / attempted
    # a layer a workload does not exercise reads 0
    layer = {k: layer.get(k, 0.0) for k in metrics.PER_LAYER}
    for m in msgs[:20]:
        print(f"perfbench: output check failed: {m}", file=sys.stderr)

    if args.trace:
        write_trace(args, raw, layer)
        values, units = layer, metrics.PER_LAYER
    else:
        values, units = e2e, metrics.END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


def write_pins(raw):
    """Pin each query's row count and fingerprint for this run's input
    variant, keeping all other pins. Refuses a run whose passes disagree."""
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as fh:
            pins = json.load(fh)
    variant = pins.setdefault(str(raw["variant"]), {})
    runs = raw["warm"] + [q for p in raw["passes"] for q in p["queries"]]
    seen = {}
    for r in runs:
        if r["error"]:
            fail(f"cannot pin {r['name']}: {r['error']}")
        v = {"rows": r["rows"], "fp": r["fp"]}
        if seen.setdefault(r["name"], v) != v and r["name"] not in raw["row_count_only"]:
            fail(f"cannot pin {r['name']}: passes disagree ({seen[r['name']]} vs {v})")
    variant.update(seen)
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


def write_trace(args, raw, layer):
    """One record per query run or microbatch, then the layer totals."""
    path = os.path.join(TRACES, f"{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as fh:
        if "passes" in raw:
            for q in raw["warm"] + [q for p in raw["passes"] for q in p["queries"]]:
                fh.write(json.dumps({"kind": "query", **q}) + "\n")
        for b in raw.get("microbatches", []):
            fh.write(json.dumps({"kind": "microbatch", **b}) + "\n")
        fh.write(json.dumps({"kind": "layers", **layer}) + "\n")


if __name__ == "__main__":
    main()
