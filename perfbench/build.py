#!/usr/bin/env python3
"""Build step of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, then generates the benchmark's input tables
with the program's own generator (graft.GenData).

Everything lands under the build directory (CARGO_TARGET_DIR when set,
else .bench_build), keyed by a hash of the sources, so a checkout builds
once and later runs reuse the result.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SF = "0.1"
CORES = 2
# cores of the data generator; the tables' file layout depends on it
GEN_CORES = 4

# Spark on JDK 17 needs these when started outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    # $SPARK_HOME, else each Spark home whose bin/ on the PATH holds spark-submit
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(b)) for b in os.environ.get("PATH", "").split(os.pathsep)
        if b and os.path.isfile(os.path.join(b, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME or put spark-submit on the PATH)")


def program_sources():
    return sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))


def harness_sources():
    return sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def source_hash():
    res = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True))
    return digest(program_sources() + harness_sources() + [r for r in res if os.path.isfile(r)])


def classpath(classes):
    return os.pathsep.join(list(classes) + [os.path.join(ROOT, "src/main/resources"),
                                            os.path.join(spark_jars(), "*")])


def java_cmd(classes, tmp, heap="3g"):
    """The JVM of every run: a fixed heap, and the C1 compiler only, with
    room for all of its code. With C2 as well, the JIT still spent
    0.3-3.5 CPU-s per query in a query's seventh run, so timings followed
    the JIT's progress; C1 settles within the warm-up. C1's default code
    cache (48 MB) is too small for Spark: once full, the JVM discards
    compiled code and compiles it again, in bursts."""
    # no perf-data file in the system temp directory
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=512m", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS + ["-cp", classpath(classes)])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def scalac(srcs, out, cp):
    """Compiles `srcs` into `out` once; returns `out`."""
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log(f"compiling {len(srcs)} files into {os.path.relpath(out, ROOT)}")
    args_file = os.path.join(out, ".sources")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", os.pathsep.join(cp), "-d", out, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(out, ".ok"), "w").close()
    return out


def compile_all():
    """Class directories of the program and of the harness, compiled
    when their sources changed."""
    srcs = program_sources()
    if not srcs:
        raise SystemExit("perfbench: no program sources under src/main/scala "
                         "(run from the repository root)")
    prog_hash = digest(srcs)
    prog = scalac(srcs, os.path.join(build_dir(), "classes-" + prog_hash), [])
    bench = scalac(harness_sources(), os.path.join(
        build_dir(), "bench-" + prog_hash + "-" + digest(harness_sources())), [prog])
    return [prog, bench]


def gen_data(classes):
    """Input tables at SF, from graft.GenData (deterministic by row id)."""
    gen_src = os.path.join(ROOT, "src/main/scala/graft/GenData.scala")
    key = digest([gen_src]) if os.path.exists(gen_src) else "none"
    base = os.path.join(build_dir(), f"data-{key}")
    out = os.path.join(base, f"sf{SF}")
    if os.path.exists(os.path.join(base, ".ok")):
        return out
    shutil.rmtree(base, ignore_errors=True)
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp)
    log(f"generating sf{SF} tables")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(GEN_CORES))
    cmd = java_cmd(classes, tmp) + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        "graft.GenData", out, SF]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=env, cwd=tmp)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: data generation failed")
    shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(base, ".ok"), "w").close()
    return out


def build():
    classes = compile_all()
    return classes, gen_data(classes)


if __name__ == "__main__":
    c, d = build()
    print(c)
    print(d)
