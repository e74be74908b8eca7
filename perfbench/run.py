"""Seeded serve / ingest benchmark of the transcript search engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM with a local Spark session, and prints as the
last line of standard output one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones of a traced run. Earlier lines carry the full report.
All build outputs, indexes, Spark scratch space and traces stay under
.bench_build/ in the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "ingest")
JVM_TIMEOUT_S = 170

# what `SparkSubmit` adds for JDK 17 (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    """A quarter of physical memory, between 2 and 6 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return 2
    return max(2, min(6, kb // (4 * 1024 * 1024)))


def java_cmd(jar, tmp, main_class, args, archive_classes=True):
    """The JVM command line running `main_class` of the benchmark jar."""
    # class-data sharing: the first run of a build archives the classes it
    # loaded; later runs map the archive instead of loading them again
    archive = os.path.join(build.OUT, "classes.jsa")
    if os.path.isfile(archive):
        cds = ["-XX:SharedArchiveFile=" + archive]
    else:
        cds = ["-XX:ArchiveClassesAtExit=" + archive] if archive_classes else []
    heap = "%dg" % heap_gb()
    return (["java", "-XX:-UsePerfData"] + cds + ["-Xlog:disable", "-Xlog:all=warning:stderr",
             "-XX:+UseParallelGC", "-Xms" + heap, "-Xmx" + heap, "-Xss4m", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"), main_class]
            + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        jar, src_stamp = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(build.ROOT, ".bench_build", "runs",
                        "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = java_cmd(jar, os.path.join(work, "tmp"), "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", result_file,
        "--keep", os.path.join(build.ROOT, ".bench_build", "keep"),
        "--stamp", src_stamp])
    proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded %ds" % JVM_TIMEOUT_S, file=sys.stderr)
        code = -1
    try:
        if code != 0 or not os.path.isfile(result_file):
            print("perfbench: benchmark JVM failed (exit %s)" % code, file=sys.stderr)
            return 1
        with open(result_file) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
