"""Build file of the benchmark package.

Compiles the program (`src/main/scala`, with `src/main/resources`) and the
benchmark's own sources (`perfbench/src`) into one jar with the
Scala compiler that ships in Spark's jar directory, so a checkout builds
from source with no dependency resolution and no build-tool state outside
the checkout. Then it trains a class-data-sharing archive for the jar: one
JVM runs one set-up of every workload on the sf0.001 tables
(`Bench --workload warmup`) and dumps the classes it loaded at exit.
Every benchmark JVM maps that archive instead of parsing the jars again.
The outputs are reused while a hash of every input is unchanged.

Usage: python3 perfbench/build.py   (prints the jar and the archive)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
WARM_SF = "0.001"
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources(top, suffix=None):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if suffix is None or f.endswith(suffix)]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(",".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()[:16]


def tables(sf):
    """Generated input tables, cached per checkout by generator hash."""
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"{key}_sf{sf}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, sf], check=True, timeout=300)
        os.rename(tmp, out)
    return out


def java(jar, cds, work, main, args):
    """The command of every benchmark JVM: `cds` is the class-data-sharing
    flag, `work` holds its temporary and warehouse files."""
    return (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            [f"-Xmx{HEAP}", cds, "-XX:-UsePerfData", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             "-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"), main] + args)


def archive(jar):
    """Train the jar's class-data-sharing archive if needed; return it."""
    jsa = jar + ".jsa"
    if os.path.exists(jsa):
        return jsa
    warm = tables(WARM_SF)
    work = os.path.join(BUILD, "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", "warmup", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--data", warm, "--warm", warm, "--work", work, "--out", os.path.join(work, "out"),
            "--golden", os.path.join(HERE, "golden.tsv"), "--cores", str(len(os.sched_getaffinity(0)))]
    log = os.path.join(BUILD, "archive.log")
    try:
        with open(log, "w") as lf:
            rc = subprocess.run(java(jar, f"-XX:ArchiveClassesAtExit={jsa}.tmp", work, "graftbench.Bench", args),
                                cwd=work, stdout=lf, stderr=subprocess.STDOUT, timeout=600).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(jsa + ".tmp"):
        raise SystemExit(f"build: the archive-training JVM exited with {rc}; see {log}")
    os.rename(jsa + ".tmp", jsa)
    return jsa


def compile_jar():
    """Compile if needed; return the jar."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: no program sources at {PROGRAM_SRC}")
    scala = sources(PROGRAM_SRC, ".scala") + sources(BENCH_SRC, ".scala")
    resources = sources(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    out = os.path.join(BUILD, "graft-" + stamp(scala + resources) + ".jar")
    if os.path.exists(out):
        return out
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=850)
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    # A jar, not a class directory: class-data sharing accepts only jars
    # on the class path.
    for old in os.listdir(BUILD):
        if old.startswith("graft-"):
            os.remove(os.path.join(BUILD, old))
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for f in sources(tmp):
            z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp)
    os.rename(out + ".tmp", out)
    return out


def build():
    """Compile and train the archive if needed; return (jar, archive)."""
    os.makedirs(BUILD, exist_ok=True)
    jar = compile_jar()
    return jar, archive(jar)


if __name__ == "__main__":
    print(*build())
