#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_files|table_dml|llm_operators>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's JVM side from source on first use
(perfbench/build.sbt, offline), writes the workload's inputs from the seed,
runs one JVM at local[min(4, cores)], checks the outputs, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones; a traced
run also leaves its spans under perfbench/traces/.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

PROCESS_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("ingest_files", "table_dml", "llm_operators")
JAR = os.path.join(HERE, "target", "perfbench.jar")
# class-data-sharing archive of the classes the workloads load, dumped by
# every build (prime()): a cold JVM spends most of its first round loading
# and verifying Spark's classes, and a run is one cold JVM
CDS = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench.built")
# a run must end within 180 s; the JVM gets what is left of this
DEADLINE_S = 170
# documents the llm_operators corpus samples from the 5,000 of sf0.1
CORPUS_DOCS = 600
# per-layer metric name prefixes each workload reports; a run fails if one
# of its own metrics is missing, and reads 0 only on other workloads' ones
OWNED = {
    "ingest_files": ("session.", "ingest_files.", "sources.", "plans.", "ingest.", "functions."),
    "table_dml": ("session.", "table_dml.", "table.", "txlog."),
    "llm_operators": ("session.", "llm_operators.", "operators."),
}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        for dirpath, _, names in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            for n in names:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, n)))
    return newest


def build():
    """Build if a source is newer than the last build; return its seconds."""
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_source_mtime():
        return 0.0
    t0 = time.time()
    spark_home()
    print("perfbench: building engine + benchmark (sbt, offline)", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=700)
    if r.returncode != 0:
        fail("build failed")
    prime()
    open(STAMP, "w").close()
    return time.time() - t0


def prime():
    """Dump the class-data-sharing archive from one short run that sets up
    and runs one round of every workload. A failed dump fails the build and
    leaves no stamp, so every run of a build starts from the archive."""
    import gen
    work = os.path.join(HERE, "work", "prime")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if os.path.exists(CDS):
        os.remove(CDS)
    try:
        gen.gen_ingest(work, 0)
        gen.gen_corpus(work, 0, CORPUS_DOCS)
        gen.gen_lineitem_pool(work, 0)
        jvm(["prime", work, "0", "0", "0", str(int(time.time() * 1000))], work,
            [f"-XX:ArchiveClassesAtExit={CDS}"], timeout=400)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: no class-data-sharing archive ({e})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(CDS):
        fail("build failed: the JVM wrote no class-data-sharing archive")


def spark_home():
    """The Spark install the engine builds and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark install (with jars/)")
    return home


def classpath():
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    return os.pathsep.join([JAR] + jars)


def jvm(main_args, work, extra_opts, timeout):
    """Run perfbench.Main in `work`; raise RuntimeError if it fails."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"] + extra_opts +
           [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath(), "perfbench.Main"] + main_args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           timeout=timeout)
    if r.returncode != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        raise RuntimeError(f"the JVM exited with {r.returncode}")


def run_jvm(args, work, setup_start):
    left = DEADLINE_S - (time.time() - setup_start)
    # -Xshare:on: a JVM that cannot map the archive exits instead of
    # starting another, slower way
    try:
        jvm([args.workload, work, str(args.seed), str(args.seconds), str(args.trace),
             str(int(setup_start * 1000))], work,
            ["-Xshare:on", f"-XX:SharedArchiveFile={CDS}"], timeout=max(left, 1))
    except subprocess.TimeoutExpired:
        fail(f"the JVM did not finish within {DEADLINE_S} s")
    except RuntimeError as e:
        fail(str(e))
    return json.load(open(os.path.join(work, "result.json")))


def per_layer(workload, measured):
    """Every per-layer metric BENCHMARK.json declares. The workload must
    report each one under its own prefixes (OWNED); those of the other
    workloads read 0. A measured name the file does not declare is an
    error, so the two lists cannot drift apart."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]
    names = {m["name"] for m in spec}
    extra = sorted(set(measured) - names)
    if extra:
        fail(f"per-layer metrics missing from BENCHMARK.json: {extra}")
    own = {n for n in names if n.startswith(OWNED[workload])}
    missing = sorted(own - set(measured))
    if missing:
        fail(f"{workload} did not report its per-layer metrics {missing}")
    return {m["name"]: measured[m["name"]] if m["name"] in own
            else {"value": 0.0, "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this checkout")
    # set-up runs from the process's start, less the time a build took
    setup_start = PROCESS_START + build()

    import check
    import gen
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "ingest_files":
            gen.gen_ingest(work, args.seed)
        elif args.workload == "llm_operators":
            gen.gen_corpus(work, args.seed, CORPUS_DOCS)
        elif args.workload == "table_dml":
            gen.gen_lineitem_pool(work, args.seed)
        res = run_jvm(args, work, setup_start)
        errors = list(res["errors"])
        if args.workload == "ingest_files":
            errors += check.check_ingest(work)
        elif args.workload == "table_dml":
            errors += check.check_versions(work)
        else:
            errors += check.check_oracle(work)
        if args.trace:
            out = os.path.join(HERE, "traces")
            os.makedirs(out, exist_ok=True)
            stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
            shutil.copy(os.path.join(work, "spans.json"), stem + ".spans.json")
            with open(stem + ".metrics.json", "w") as f:
                json.dump(res["layer"], f, indent=1)
    finally:
        if not os.environ.get("PERFBENCH_KEEP_WORK"):
            shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed {args.seed}: {res['rounds']} rounds in "
          f"{res['timed_s']:.1f} s; set-up phases {res['phases_s']}; "
          f"warm-up rounds {res['warmup_rounds_s']}; timed rounds {res['timed_rounds_s']}", file=sys.stderr)
    if os.environ.get("PERFBENCH_DUMP"):
        with open(os.environ["PERFBENCH_DUMP"], "a") as f:
            f.write(json.dumps(res) + "\n")
    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    metrics = per_layer(args.workload, res["layer"]) if args.trace else res["e2e"]
    if any(m["value"] is None for m in metrics.values()):
        fail(f"a metric could not be computed: {metrics}")
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
