#!/usr/bin/env python3
"""Benchmark of record for the graft product entry points.

Usage (from the repository root):
  python3 perfbench/run.py --workload crawl_fused|graph_ops --seed N --seconds S --trace 0|1

Compiles the repository's main sources and the benchmark with the Scala 2.13
compiler that ships with Spark (cached under .bench_build/ by a hash of the
sources), then runs one benchmark JVM with the build's JDK 17 --add-opens and
ParallelGC flags and a pinned heap. The last line of standard output is the
result object; the lines before it describe the run. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import platform
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "4g"
JVM_TIMEOUT_S = 170
YOUNG = "1g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase),
    unless SPARK_JARS overrides it."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("build.sbt names no unmanagedBase jar directory; set SPARK_JARS")
    return m.group(1)


def sources(pattern):
    return sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))


def compile_scala(srcs, classpath, out):
    compiler = ":".join(os.path.join(spark_jars(), f"scala-{j}-2.13.17.jar")
                        for j in ("compiler", "library", "reflect"))
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", classpath, "-d", out] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        fail(f"compilation into {out} failed")


def fingerprint(paths):
    digest = hashlib.sha256()
    for path in paths:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()


def cached(out, key, compile_fn):
    """Runs compile_fn into out unless out was last built from key."""
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    compile_fn()
    with open(stamp, "w") as f:
        f.write(key)


def build():
    """Compiles src/main/scala and the benchmark unless the cached build
    matches the current sources; returns the runtime classpath."""
    main_srcs = sources("src/main/scala/**/*.scala")
    bench_srcs = sources("perfbench/src/main/scala/**/*.scala")
    if not main_srcs or not bench_srcs:
        fail("no Scala sources under src/main/scala or perfbench/src; run from the repository root")
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        fail(f"no jars under {spark_jars()}")
    spark_cp = ":".join(jars)
    main_out = os.path.join(BUILD, "main")
    bench_out = os.path.join(BUILD, "bench")
    main_key = fingerprint(main_srcs)
    cached(main_out, main_key, lambda: compile_scala(main_srcs, spark_cp, main_out))
    cached(bench_out, main_key + fingerprint(bench_srcs),
           lambda: compile_scala(bench_srcs, main_out + ":" + spark_cp, bench_out))
    resources = os.path.join(ROOT, "src", "main", "resources")
    extra = [resources] if os.path.isdir(resources) else []
    return ":".join([bench_out, main_out] + extra + [spark_cp])


def git_sha():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return res.stdout.strip() if res.returncode == 0 else "none"
    except OSError:
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["crawl_fused", "graph_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_version = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.splitlines()[0]
    print(f'{{"env":{{"nproc":{os.cpu_count()},"heap":"{HEAP}","young":"{YOUNG}",'
          f'"jvm":"{java_version.replace(chr(34), "")}","git_sha":"{git_sha()}",'
          f'"host":"{platform.machine()}"}}}}', flush=True)
    cmd = (["java", "-XX:-UsePerfData"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work,
            "--expected", os.path.join(ROOT, "perfbench", "expected", "graph_ops.tsv")])
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=work,
                              timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(proc.stderr[-8000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    for line in proc.stderr.splitlines():
        if line.startswith("check failed:"):
            print(line, file=sys.stderr)
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
