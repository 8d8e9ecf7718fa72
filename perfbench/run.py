#!/usr/bin/env python3
"""Benchmark of the .pol and curation pipelines. See perfbench/README.md.

    python3 perfbench/run.py --workload pol_full --seed 1 --seconds 4 --trace 0

Run from the repository root. The script compiles the program's sources
and the benchmark's Scala files with the Scala compiler that ships in
Spark's jars (into a jar in .bench_build/, reused while the sources are
unchanged), generates the workload's inputs from the seed, runs one JVM,
and prints the result as the last line of standard output.
"""

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ("pol_full", "pol_push", "curate")
# Fixed heap and young generation, with pages touched only when used:
# peak RSS is the young generation (reached in the first seconds) plus
# the old-generation pages promoted and retained objects touched plus
# off-heap memory, so it follows the program's memory. Letting the
# collector size the heap instead made peak RSS vary by a fifth between
# runs of the same code.
HEAP = "2g"
YOUNG = "512m"
RUN_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Jars of the Spark at SPARK_HOME, else of the installed pyspark."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        home = os.path.dirname(spec.origin) if spec and spec.origin else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail("no Spark jars found; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    """The program's main sources plus the benchmark's own."""
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(base):
            fail(f"missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_dir():
    d = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    return d if d.startswith(ROOT + os.sep) else os.path.join(ROOT, ".bench_build")


def build(jars):
    """Compile into .bench_build/classes-<digest>.jar; skip when present.

    A jar, not a directory, because the JVM's class-data archive (see
    run_jvm) only covers classes loaded from jars.
    """
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()[:16]
    out = os.path.join(build_dir(), f"classes-{digest}.jar")
    if os.path.exists(out):
        return out, digest
    tmp = os.path.join(build_dir(), f"classes-{digest}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", jars, "@" + argfile]
    t = time.time()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(argfile)
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with zipfile.ZipFile(tmp + ".jar", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    shutil.rmtree(tmp)
    os.rename(tmp + ".jar", out)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t:.1f} s",
          file=sys.stderr)
    return out, digest


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, jars, args, work):
    """Run BenchMain; return (its report, peak RSS in MiB).

    The first run of a build dumps the classes it loaded into a class-data
    archive next to the jar, and later runs map it: on a 4-core host that
    took about 4 s off every later set-up (20.8 s to 16.5 s on `curate`)
    and left operation times as they were. The dumping run's own set-up
    is slower.
    """
    jsa = classes[:-len(".jar")] + ".jsa"
    dump = not os.path.exists(jsa)
    cds = ([f"-XX:ArchiveClassesAtExit={jsa}.tmp{os.getpid()}"] if dump
           else [f"-XX:SharedArchiveFile={jsa}"])
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java"] + ADD_OPENS + cds +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.BenchMain",
            "--workload", args.workload, "--input", os.path.join(work, "input"),
            "--work", os.path.join(work, "run"), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--result", result, "--fault", args.fault])
    with open(log_path, "w") as log:
        t0 = int(time.time() * 1000)
        # local mode needs no resolvable host name
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        p = subprocess.Popen(cmd + ["--t0", str(t0)], cwd=work, stdout=log,
                             stderr=subprocess.STDOUT, env=env)
        timer = threading.Timer(RUN_TIMEOUT_S, p.kill)
        timer.start()
        try:
            # wait4, not wait: its rusage is this child's alone
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
    rc = os.waitstatus_to_exitcode(status)
    if dump and rc == 0 and os.path.exists(f"{jsa}.tmp{os.getpid()}"):
        os.rename(f"{jsa}.tmp{os.getpid()}", jsa)
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(result) as f:
        return json.load(f), usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("none", "throw", "wrong_rtp"), default="none",
                    help="plant a failure in one operation (self-tests)")
    args = ap.parse_args()

    jars = spark_jars()
    classes, digest = build(jars)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.generate(args.workload, args.seed, os.path.join(work, "input"))
        report, rss_mb = run_jvm(classes, jars, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = report["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": rss_mb, "unit": "MiB"}
    attempted, failed = report["attempted"], report["failed"]
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": os.cpu_count(), "max_heap": HEAP, "young": YOUNG,
           "jdk": report["jdk"], "spark": report["spark"], "git_commit": git_commit(),
           "source_digest": digest, "timed_ops": report["timed_ops"], "op_s": report["op_s"],
           "tail_rank": report["tail_rank"], "setup_s": report["setup_s"],
           "failures": report["failures"]}
    for k in sorted(metrics):
        print(f"perfbench: {k} = {metrics[k]['value']:.6g} {metrics[k]['unit']}",
              file=sys.stderr)
    print(f"perfbench: fail_share = {failed / attempted:.4f} ({failed}/{attempted}),"
          f" timed ops {report['timed_ops']}, op_s median"
          f" {statistics.median(report['op_s']) if report['op_s'] else float('nan'):.3f}",
          file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
