#!/usr/bin/env python3
"""Build file of the changelog benchmark.

Compiles the engine (``src/main/scala`` of the checkout) and the benchmark
(``perfbench/src``) with the Scala compiler shipped in the Spark jars
directory into two jars under ``<build dir>/perfbench/<source hash>/``, then
records a class-data-sharing archive from a short training run. A build
whose sources are unchanged is reused. Run from the checkout root::

    python3 perfbench/build.py        # prints the classpath of the build

The build dir is ``$CARGO_TARGET_DIR`` if set, else ``.bench_build``. Spark
jars come from ``$SPARK_HOME/jars``, else from the ``jars`` directory beside
the ``spark-submit`` on the PATH (the engine's own build reads the same
Spark installation).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# options of every benchmark JVM: Spark on JDK 17 outside spark-submit, a
# fixed heap, so heap resizing neither adds GC pauses nor moves peak RSS, no
# hsperfdata file (it would land outside the checkout), and a JIT set up to
# finish warming within setup. With C2 on, the timed calls overlapped
# seconds of C2 compilation that competed with the driver and task threads
# for the few cores, and calls kept drifting down for many cycles. So: C1
# only; a 256 MB code cache (C1-only defaults to 48 MB, with which the
# timed calls each still spent about a second compiling); and compile
# thresholds at a twentieth, so the methods a cycle calls only a few times
# are compiled during the warm-up rather than in the timed calls.
JVM_OPTS = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
    "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m", "-XX:CompileThresholdScaling=0.05",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def jvm_env():
    """Environment of a benchmark JVM: Spark's scratch directories come from
    the session config (inside the checkout), never from SPARK_LOCAL_DIRS."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench build: no Spark jars with a Scala compiler in {jars}")
    return jars


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def scalac(jars, out, classpath, srcs):
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench build: scalac failed ({r.returncode})")


def jar(src_dir, dest):
    """Pack a class directory into a jar (class data sharing needs jars)."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, files in os.walk(src_dir):
            for f in sorted(files):
                full = os.path.join(base, f)
                z.write(full, os.path.relpath(full, src_dir))


def archive(cp, out):
    """Record a class-data-sharing archive of the classes a short training
    run loads (session start and a 250-page dump cycle).
    Runs map it instead of loading and verifying those classes again."""
    work = os.path.join(out, "train")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                 f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}",
                                 "-cp", cp, "graft.perfbench.Train", work]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=jvm_env())
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "app.jsa")):
        raise SystemExit(f"perfbench build: class-data archive run failed ({r.returncode})")


def build():
    """Return (classpath, class-data archive) of an up-to-date build,
    compiling if needed."""
    engine = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "src"))
    if not engine:
        raise SystemExit("perfbench build: no engine sources under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(build_dir(), h.hexdigest()[:16])
    jar_cp = os.path.join(jars, "*")
    cp = os.pathsep.join([os.path.join(out, "bench.jar"), os.path.join(out, "engine.jar"), jar_cp])
    jsa = os.path.join(out, "app.jsa")
    if os.path.exists(os.path.join(out, "ok")):
        return cp, jsa
    for old in glob.glob(os.path.join(build_dir(), "[0-9a-f]" * 16)):
        shutil.rmtree(old, ignore_errors=True)  # earlier builds of other sources
    classes = os.path.join(out, "classes")
    try:
        scalac(jars, os.path.join(classes, "engine"), jar_cp, engine)
        scalac(jars, os.path.join(classes, "bench"),
               os.pathsep.join([os.path.join(classes, "engine"), jar_cp]), bench)
        jar(os.path.join(classes, "engine"), os.path.join(out, "engine.jar"))
        jar(os.path.join(classes, "bench"), os.path.join(out, "bench.jar"))
        shutil.rmtree(classes)
        archive(cp, out)
        open(os.path.join(out, "ok"), "w").close()
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    return cp, jsa


if __name__ == "__main__":
    print(build()[0])
