#!/usr/bin/env python3
"""graft benchmark driver.

    python3 perfbench/run.py --workload kv_mixed --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a graft checkout. The first run builds the library
and the harness from source with sbt (offline) into perfbench/target and
.bench_build/perfbench, then records a class-data-sharing archive of the
classes a run loads; later runs reuse both while the sources are
unchanged. Each run starts one JVM with a local Spark session, prints a
record line and, as the last line, the result JSON. With --trace 1 the
spans of the traced operations are kept under .bench_build/perfbench/traces
for trace_report.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(OUT, "classes.jsa")
WORKLOADS = ["kv_mixed", "batch_analytics"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("SPARK_HOME does not point at a Spark installation with jars/")
    return jars


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not any(f.endswith(os.path.join("graft", "SparkEntry.scala")) for f in files):
        fail(f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a graft checkout")
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def build(jars):
    """Compile graft + the harness when the sources changed and record the
    class-data-sharing archive; return the classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    if all(map(os.path.exists, (stamp_file, cp_file, ARCHIVE))):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=jars)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    cp = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip().startswith("/")]
    if not cp:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    record_archive(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return cp[-1]


def record_archive(cp):
    """Run every workload once at the smoke scale, traced, in one JVM that
    dumps the classes it loaded into ARCHIVE. Runs map the archive instead
    of loading and verifying Spark's classes from their jars, which takes
    seconds off each JVM's start and first operations; a JVM that cannot
    use the archive (another JDK, changed jars) loads from the jars."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(OUT, "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", ",".join(WORKLOADS), "--seed", "1", "--seconds", "1",
            "--trace", "1", "--scale", "smoke", "--setups", "1"]
    try:
        run_main(cp, args, work, jvm=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                 timeout=BUILD_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        fail("the JVM wrote no class-data-sharing archive")


def run_main(cp, args, work, jvm=None, timeout=RUN_TIMEOUT_S):
    """Run one benchmark JVM; return (result dict, record line) or exit without a result."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed heap and a collector with no concurrent threads: on a few
    # shared cores, G1's concurrent work and heap resizing spread the
    # figures of otherwise equal runs three to four times wider. JVM
    # warnings go to stderr, so the result stays the last line of stdout.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    cmd += jvm if jvm is not None else [f"-XX:SharedArchiveFile={ARCHIVE}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + args
    log = os.path.join(work, "stderr.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {timeout}s")
        finally:
            # also on SIGTERM (see main) and ^C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"run failed (exit {proc.returncode})")
    with open(log) as fh:
        for ln in fh:
            if ln.startswith("[perfbench]"):
                sys.stderr.write(ln)
    return result, (lines[-2] if len(lines) > 1 else "")


def bench(opts, cp):
    work = os.path.join(OUT, f"work-{opts.workload}-{opts.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", opts.workload, "--seed", str(opts.seed),
            "--seconds", str(opts.seconds), "--trace", str(opts.trace)]
    if opts.trace:
        args += ["--spans", os.path.join(OUT, "traces", f"{opts.workload}-seed{opts.seed}.jsonl")]
    try:
        result, record = run_main(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(record)
    print(json.dumps(result))


def smoke(cp):
    """Every workload at the sf0.001 shape: a few checked operations per
    run, every declared metric printed, and a corrupted expectation
    counted as a failure."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {0: [m["name"] for m in spec["end_to_end"]], 1: [m["name"] for m in spec["per_layer"]]}
    problems = []
    for wl in [w["name"] for w in spec["workloads"]]:
        for trace, corrupt in ((0, -1), (1, -1), (0, 2)):
            work = os.path.join(OUT, f"smoke-{wl}-{trace}-{corrupt}")
            shutil.rmtree(work, ignore_errors=True)
            args = ["--workload", wl, "--seed", "7", "--seconds", "1", "--trace", str(trace),
                    "--scale", "smoke", "--setups", "1", "--corrupt", str(corrupt)]
            try:
                result, _ = run_main(cp, args, work)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            tag = f"{wl} trace={trace} corrupt={corrupt}"
            missing = [n for n in names[trace] if n not in result["metrics"]]
            if missing:
                problems.append(f"{tag}: metrics not printed: {missing}")
            if corrupt < 0 and (not result["correct"] or result["failed"]):
                problems.append(f"{tag}: {result['failed']} of {result['attempted']} failed")
            if corrupt >= 0 and (result["correct"] or result["failed"] != 1):
                problems.append(f"{tag}: corrupted expectation not counted "
                                f"({result['failed']} failed)")
            print(f"smoke {tag}: attempted={result['attempted']} failed={result['failed']}")
    for p in problems:
        print(f"smoke FAIL {p}")
    print("smoke:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 0 if not problems else 1


def main():
    # a terminated driver unwinds like ^C, so run_main stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="run the benchmark's smoke test")
    opts = ap.parse_args()
    if not opts.smoke and not opts.workload:
        ap.error("--workload is required")
    cp = build(spark_jars())
    if opts.smoke:
        sys.exit(smoke(cp))
    bench(opts, cp)


if __name__ == "__main__":
    main()
