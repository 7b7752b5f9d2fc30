#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine together with
the benchmark (sbt, offline) into perfbench/target; later runs reuse the
build while no source file has changed. Inputs are generated from the seed,
the workload runs in one local[4] JVM, and the last line printed is one JSON
object: correct, attempted, failed and metrics (the end-to-end metrics of
BENCHMARK.json, or with --trace 1 its per-layer metrics). Everything the run
writes stays under the checkout: perfbench/target for the build and
.perfbench/ for inputs, scratch space and the span files of traced runs.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# The declared_mix tables are generated at a fixed scale and seed so that each
# row's golden digest holds, and the rows run in a fixed order: --seed changes
# no input of an untraced declared_mix run (it seeds only the traced run's
# ingest cycle).
MIX_SF = 0.01
MIX_DATA_SEED = 42
RUN_TIMEOUT_S = 170
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_home():
    """SPARK_HOME, or the installation that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]


def build():
    engine = glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala"))
    if not engine or not shutil.which("sbt"):
        die("no engine sources (src/main/scala/graft) or no sbt: nothing to build")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def java(work, main_class, *args):
    """The command that runs `main_class` of the build with Spark's jars,
    keeping temporary and shuffle files under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *JAVA_OPENS, "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"), main_class, *args]


def generate(out, sf, seed, tables=None):
    sys.path.insert(0, HERE)
    import gen_data
    gen_data.generate(out, sf, seed, tables)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["fknn_scale", "declared_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except (OSError, ValueError) as e:
        die(f"BENCHMARK.json: {e}")
    build()

    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    extra = []
    if a.workload == "declared_mix":
        generate(os.path.join(work, "data"), MIX_SF, MIX_DATA_SEED)
        generate(os.path.join(work, "warm"), 0.001, MIX_DATA_SEED)
        extra = ["--warm", os.path.join(work, "warm"),
                 "--golden", os.path.join(HERE, "golden_mix.txt")]
        if a.trace:
            # the traced run adds the streamed ingest cycle over sf0.1 documents
            generate(os.path.join(work, "ingest"), 0.1, a.seed, ["documents"])
            extra += ["--ingest", os.path.join(work, "ingest")]
    gen_s = time.time() - t0

    cmd = java(work, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
               "--data", os.path.join(work, "data"), *extra)
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        die(f"{a.workload} exited with {p.returncode}")
    try:
        res = json.loads(lines[-1])
    except ValueError:
        die("no result line")

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    if "setup_s" in got:
        got["setup_s"]["value"] += gen_s
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None or v["value"] is None:
            if not a.trace:
                die(f"{a.workload} did not report {m['name']}")
            # a layer this workload does not exercise
            v = {"value": 0.0, "unit": m["unit"]}
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    if a.trace:
        spans = os.path.join(STATE, "spans")
        os.makedirs(spans, exist_ok=True)
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(spans, f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    print(f"{a.workload:<14} {'datagen_s':<32} {gen_s:16.6f} s")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
