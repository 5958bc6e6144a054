"""Build file of the benchmark: compiles graft's sources, then the
benchmark's own Scala sources against them, each once per source state,
into one jar each; then archives the classes a run loads.

The compiler is the Scala 2.13 compiler jar that ships with the Spark jars
(the same jars graft's build.sbt compiles against), driven by a plain `java`
call, so a benchmark run never launches sbt and never touches build.sbt.
The output goes to `.bench_build/graft-<hash>/` and `.bench_build/bench-<hash>/`
in the current directory. Each hash covers every input file of its stage, so
an unchanged tree is never recompiled and a changed one is always rebuilt.

The class archive is a JDK class-data-sharing (AppCDS) archive, written by
one JVM that runs every workload once at its smallest size
(`lakebench.Train`). Each run maps it instead of loading and verifying
Spark's, Scala's and graft's classes from the jars one by one, which
takes 10 s of each run's set-up without it. It is part of the build, so it
is made once per source state, like the jars.

Run alone with `python3 lakebench/build.py`; `run.py` calls `ensure_built`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_ROOT = ".bench_build"
GRAFT_SRC = os.path.join("src", "main", "scala")
GRAFT_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
TRAIN_TIMEOUT_S = 600


class BuildError(RuntimeError):
    pass


# Spark 4 on JDK 17 outside spark-submit needs these (graft's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java_cmd(classpath, tmp, main, args, jvm_flags=()):
    """The JVM of a benchmark run (and of the archive's training run)."""
    # C1 only: runs are short, so quick compilation beats peak code. A
    # fixed heap and generation sizes, so collections do not fall
    # differently from run to run. No perf-data file, so nothing is
    # written outside the checkout.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData", *jvm_flags,
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-cp", classpath]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + [main] + args


def _spark_jars():
    """The Spark jars graft compiles against: `$SPARK_JARS_DIR`, else the
    `unmanagedBase` that graft's build.sbt names."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_JARS_DIR, or run from the "
                         "root of a graft checkout whose build.sbt sets "
                         "unmanagedBase")
    return m.group(1)


def _files(root, suffix=None):
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def _compiler_jars(spark_jars):
    jars = {}
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = [f for f in os.listdir(spark_jars)
                if f.startswith(name + "-2.13") and f.endswith(".jar")]
        if not hits:
            raise BuildError(f"no {name} 2.13 jar in {spark_jars}")
        jars[name] = os.path.join(spark_jars, sorted(hits)[-1])
    return jars


def _hash(files, extra=b""):
    h = hashlib.sha256(extra)
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _scalac(sources, classpath, spark_jars, out, log, resources=(),
            res_root=None):
    """Compiles `sources` (plus `resources`, copied) into `out`/classes.jar."""
    classes = os.path.join(out, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(_compiler_jars(spark_jars).values()),
           "scala.tools.nsc.Main", "-classpath", classpath,
           "-d", classes, "-nowarn", "@" + argfile]
    t0 = time.time()
    print(f"build: compiling {len(sources)} Scala files into {out}",
          file=log, flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-6000:])
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    # a class-data-sharing archive can only hold classes from jars
    with zipfile.ZipFile(os.path.join(out, "classes.jar"), "w") as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)
    print(f"build: done in {time.time() - t0:.1f} s", file=log, flush=True)


def _archive(classpath, out, log):
    """Writes `out`/classes.jsa from one training JVM (see the module doc)."""
    work = os.path.abspath(os.path.join(out, "train"))
    os.makedirs(work)
    jsa = os.path.abspath(os.path.join(out, "classes.jsa"))
    cmd = java_cmd(classpath, work, "lakebench.Train", [work],
                   ["-XX:ArchiveClassesAtExit=" + jsa])
    t0 = time.time()
    print("build: archiving the classes of a training run", file=log,
          flush=True)
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=TRAIN_TIMEOUT_S)
        ok = p.returncode == 0 and os.path.exists(jsa)
        tail = p.stdout[-6000:]
    except subprocess.TimeoutExpired:
        ok, tail = False, f"no end after {TRAIN_TIMEOUT_S} s"
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        raise BuildError("class archive failed:\n" + tail)
    print(f"build: done in {time.time() - t0:.1f} s", file=log, flush=True)
    return jsa


def ensure_built(log=sys.stderr):
    """Returns the runtime classpath, the class archive, and whether a
    build ran. graft and the benchmark build as two stages, each skipped
    when a build of its current inputs exists (`DONE` marks a finished
    one)."""
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(
            f"graft sources not found under ./{GRAFT_SRC}; run from the root "
            "of a graft checkout")
    spark_jars = _spark_jars()
    jars = os.path.join(spark_jars, "*")
    graft_src = _files(GRAFT_SRC, ".scala")
    graft_res = _files(GRAFT_RES) if os.path.isdir(GRAFT_RES) else []
    graft_key = _hash(graft_src + graft_res + [__file__])
    graft_out = os.path.join(BUILD_ROOT, "graft-" + graft_key)
    bench_src = _files(BENCH_SRC, ".scala")
    bench_out = os.path.join(
        BUILD_ROOT, "bench-" + _hash(bench_src + [__file__], graft_key.encode()))
    keep = {graft_out, bench_out}
    if os.path.isdir(BUILD_ROOT):  # builds of other source states
        for d in os.listdir(BUILD_ROOT):
            if os.path.join(BUILD_ROOT, d) not in keep:
                shutil.rmtree(os.path.join(BUILD_ROOT, d), ignore_errors=True)
    # absolute, as the archive records the class path it was made with
    graft_jar = os.path.abspath(os.path.join(graft_out, "classes.jar"))
    bench_jar = os.path.abspath(os.path.join(bench_out, "classes.jar"))
    classpath = os.pathsep.join([bench_jar, graft_jar, jars])
    built = False
    if not os.path.exists(os.path.join(graft_out, "DONE")):
        _scalac(graft_src, jars, spark_jars, graft_out, log, graft_res,
                GRAFT_RES)
        open(os.path.join(graft_out, "DONE"), "w").close()
        built = True
    if not os.path.exists(os.path.join(bench_out, "DONE")):
        _scalac(bench_src, graft_jar + os.pathsep + jars, spark_jars,
                bench_out, log)
        _archive(classpath, bench_out, log)
        open(os.path.join(bench_out, "DONE"), "w").close()
        built = True
    return classpath, os.path.join(bench_out, "classes.jsa"), built


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
