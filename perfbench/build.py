"""Builds the engine and the benchmark harness from source with scalac.

The engine (`src/main/scala`) compiles to `.bench_build/engine.jar`, the
harness (`perfbench/src`) to `.bench_build/harness.jar`. Each carries a stamp
of its sources' digest and is rebuilt only when that changes. The Scala
compiler and the Spark jars come from the Spark distribution
(`$SPARK_HOME/jars`, default `/opt/spark/jars`), so no build tool and no
network are needed.

The build ends with a class-data-sharing archive (`.bench_build/app.jsa`):
one tiny tweet_pipeline run records the classes it loads, and every
benchmark JVM maps them instead of loading them again. This halves the JVM
and Spark start-up (about 8 s to 3.5 s on 4 cores) for every commit alike.

    python3 perfbench/build.py      # prints the JVM's class arguments
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")
CDS = os.path.join(BUILD, "app.jsa")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return os.path.join(home, "jars")


def jvm_base():
    """`java` with the module openings Spark needs on JDK 17, no /tmp
    perf-data file, and a large code cache (see BENCH_NOTES.md)."""
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    args = ["java", "-XX:-UsePerfData"]
    for p in opens:
        args += ["--add-opens", p + "=ALL-UNNAMED"]
    return args


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_to(jar, files, classpath, depends=""):
    """Compiles `files` into `jar` unless its stamp says they are
    unchanged; returns the stamp."""
    stamp_path = jar + ".stamp"
    want = digest(files) + "\n" + depends + "\n" + classpath
    if os.path.exists(jar) and os.path.exists(stamp_path) and open(stamp_path).read() == want:
        return want
    out = jar[:-len(".jar")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = jvm_base() + [
        "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
        "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
        "-classpath", classpath, "-d", out, "-nowarn"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        raise SystemExit("perfbench: compile failed for " + jar)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(out):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), out))
    shutil.rmtree(out)
    with open(stamp_path, "w") as fh:
        fh.write(want)
    return want


def share_classes(classpath, stamp):
    """Records the class-data-sharing archive for `classpath` (see the
    module docstring); a JVM given a stale or missing archive just loads
    classes the usual way."""
    marker = CDS + ".stamp"
    if os.path.exists(CDS) and os.path.exists(marker) and open(marker).read() == stamp:
        return
    import gen
    run = os.path.join(BUILD, "cds-run")
    shutil.rmtree(run, ignore_errors=True)
    gen.tweets(os.path.join(run, "in", "tweets"), 0, files=1)
    for p in (CDS, marker):
        if os.path.exists(p):
            os.remove(p)
    cmd = jvm_base() + [
        "-XX:ArchiveClassesAtExit=" + CDS, "-Djava.io.tmpdir=" + run,
        "-cp", classpath, "perfbench.Main", "--workload", "tweet_pipeline",
        "--dir", run, "--seconds", "-1", "--trace", "0"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    shutil.rmtree(run, ignore_errors=True)
    if r.returncode == 0 and os.path.exists(CDS):
        with open(marker, "w") as fh:
            fh.write(stamp)
    else:
        sys.stderr.write("perfbench: no class-data-sharing archive; start-up is slower\n")


def build():
    """Compiles what changed; returns (java arguments before the main
    class, seconds spent)."""
    t0 = time.time()
    engine = sources(ENGINE_SRC)
    harness = sources(HARNESS_SRC)
    if not engine or not harness:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    engine_jar = os.path.join(BUILD, "engine.jar")
    harness_jar = os.path.join(BUILD, "harness.jar")
    stamp = compile_to(engine_jar, engine, jars)
    stamp = compile_to(harness_jar, harness, engine_jar + os.pathsep + jars, depends=stamp)
    cp = os.pathsep.join([harness_jar, engine_jar, jars])
    share_classes(cp, stamp)
    args = ["-cp", cp]
    if os.path.exists(CDS + ".stamp"):
        args = ["-XX:SharedArchiveFile=" + CDS] + args
    return args, time.time() - t0


if __name__ == "__main__":
    print(" ".join(build()[0]))
