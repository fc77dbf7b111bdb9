"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution into `.bench_build/perfbench.jar` of the checkout, then
runs one short training pass of every workload to record the classes they
load in a class-data-sharing archive (`.bench_build/classes.jsa`), which
each benchmark JVM maps instead of loading and verifying those classes.

The build is skipped when a stamp of every source file, the compiler and
the Spark jar list is unchanged. Run on its own with
`python3 perfbench/build.py` from the repository root.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys



def spark_jars():
    """The Spark jar dir the engine builds against: the root build's
    `unmanagedBase`, else `$SPARK_HOME/jars`."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jar dir (build.sbt unmanagedBase or SPARK_HOME)")


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compiler_jars():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(spark_jars(), f"{name}-2.13.*.jar")))
        if not found:
            raise SystemExit(f"perfbench: no {name} jar under {spark_jars()}")
        jars.append(found[-1])
    return jars


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GB (the Tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def java_cmd(root, work, cds_flag):
    """The benchmark JVM: engine jar plus the Spark jars, Spark `local[nproc]`,
    with its temp files, Spark local dirs and Warehouse root under `work`."""
    out = os.path.join(root, ".bench_build")
    return (["java", f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", cds_flag]
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
               f"-Dspark.graft.warehouse={work}/warehouse", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", f"{out}/perfbench.jar:{os.path.join(spark_jars(), '*')}", "perfbench.Main"])


def java_env(work):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
                SPARK_LOCAL_DIRS=f"{work}/local")


def make_work(work):
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "tables"):
        os.makedirs(f"{work}/{d}")


def train(root):
    """Run every workload briefly under -XX:ArchiveClassesAtExit."""
    import tables
    out = os.path.join(root, ".bench_build")
    work = os.path.join(out, "train")
    make_work(work)
    tables.generate(f"{work}/tables", 1, docs=400, vectors=200)
    try:
        r = subprocess.run(java_cmd(root, work, f"-XX:ArchiveClassesAtExit={out}/classes.jsa")
                           + ["train", work], cwd=work, env=java_env(work), text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=600)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: training run failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ensure(root):
    """Build unless the stamped build is current; return the build dir."""
    srcs = sources(root)
    if not any("/src/main/scala/graft/" in s for s in srcs):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found")
    h = hashlib.sha256()
    for path in srcs + compiler_jars():
        h.update(os.path.relpath(path, root).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(spark_jars(), "*"),
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    # class-data sharing maps classes from jars only, not from directories
    shutil.make_archive(os.path.join(out, "perfbench"), "zip", classes)
    os.rename(os.path.join(out, "perfbench.zip"), os.path.join(out, "perfbench.jar"))
    shutil.rmtree(classes)
    train(root)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(ensure(os.getcwd()))
