"""Build step of the benchmark, and the JVM command every run uses.

The build compiles graft's sources together with the benchmark's own
Scala sources. graft's sbt build takes its Spark jars from the Spark
installation, and that installation also ships the matching Scala
compiler, so the build calls the compiler straight from those jars. It
then packs the classes and graft's resources into one jar. Last, it runs
one job of every workload under -XX:ArchiveClassesAtExit to write a
class-data sharing archive. Runs map that archive with -Xshare:on, which
roughly halves the JVM's cold Spark start; a run whose JVM cannot map it
fails rather than silently taking the slower start. A stamp over every
source file skips all of this when nothing changed and both the jar and
the archive are there.

    python3 perfbench/build.py        # prints the runtime classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".perfbench", "build")
JAR = os.path.join(OUT, "graft-bench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (as graft's own build.sbt does).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    return jars


def cores():
    """local[k]: at most 4 and never more than the cores this process may use."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise BuildError("graft sources not found under src/main/scala")
    files = []
    for top in (GRAFT_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath():
    return os.pathsep.join([JAR, os.path.join(spark_jars(), "*")])


def jvm(work, archive_flag=None):
    """The java command up to the main class, for a run in `work`, and
    its environment. Heap, cores and every temporary path are pinned."""
    k = cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if archive_flag is None:
        archive_flag = ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData", f"-XX:ActiveProcessorCount={k}",
            "-Xlog:all=warning:stderr"]
           + archive_flag
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dderby.system.home={work}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", classpath()])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(k),
               PERFBENCH_CLK_TCK=str(os.sysconf("SC_CLK_TCK")))
    return cmd, env


def _compile(files, log):
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    cp = os.path.join(spark_jars(), "*")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + files
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise BuildError("scalac failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as jar:
        for top in (classes, GRAFT_RES):
            for d, _, names in os.walk(top):
                for n in names:
                    p = os.path.join(d, n)
                    jar.write(p, os.path.relpath(p, top))
    shutil.rmtree(classes)


def _archive(log):
    """Writes the class-data sharing archive from one checked job of
    every workload."""
    print("[perfbench] writing the class-data sharing archive", file=log, flush=True)
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    cmd, env = jvm(work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    cmd += ["graftbench.Main", "--workload", "train", "--seed", "1",
            "--seconds", "0", "--work", work, "--cores", str(cores())]
    r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=log, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        raise BuildError("the archive run failed")


def build(log=sys.stderr):
    """Builds if any source changed; returns the runtime classpath."""
    files = sources()
    h = hashlib.sha256(spark_jars().encode())
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    want = h.hexdigest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == want and os.path.exists(JAR) and os.path.exists(ARCHIVE):
                return classpath()
        os.remove(stamp)
    os.makedirs(OUT, exist_ok=True)
    for f in (JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    _compile(files, log)
    _archive(log)
    with open(stamp, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
