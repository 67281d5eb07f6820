"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own Scala sources into one jar with the Scala compiler that
ships with Spark, then runs the set-up of the curation_sql, warehouse_etl
and curation_feed workloads on small generated inputs to dump a JVM
class-data archive (loading and verifying Spark's classes is
most of a cold start; every run maps the archive instead). Run from
anywhere:

    python3 perfbench/build.py          # prints the jar

The build is skipped when no source file changed since the last one.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return jars


def scala_files() -> list:
    files = []
    for src in SOURCES:
        if not os.path.isdir(src):
            raise SystemExit(f"perfbench: missing source directory {src}")
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    if not files:
        raise SystemExit("perfbench: no Scala sources")
    return sorted(files)


def build() -> str:
    """Compile if needed; returns the jar."""
    files = scala_files()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    jar = JAR
    stamp_file = os.path.join(OUT, "perfbench.stamp")
    if (os.path.exists(jar) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return jar
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)  # it belongs to the jar it was dumped from
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    # a jar, not a directory: the JVM's class-data archive (run.py) only
    # covers classes loaded from jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp, ignore_errors=True)
    dump_archive()
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


def java(workdir: str, args: list, archive_flag: str,
         heap: str = "3g") -> list:
    """The JVM command line every benchmark JVM uses."""
    return (["java"] + [a for p in ADD_OPENS
                        for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            # no hsperfdata: the JVM would write it outside the checkout
            [archive_flag, "-XX:-UsePerfData", "-Xlog:cds=off",
             "-Xlog:cds+dynamic=off",
             f"-Xmx{heap}", f"-Djava.io.tmpdir={workdir}/tmp",
             "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
             "-cp", os.pathsep.join(classpath(JAR)), "perfbench.Main"] + args)


def dump_archive() -> None:
    """Every workload's set-up on small inputs, dumping the loaded classes."""
    import gen
    root = tempfile.mkdtemp(prefix="train-", dir=OUT)
    try:
        inputs, work = f"{root}/inputs", f"{root}/work"
        os.makedirs(f"{work}/tmp")
        gen.tables(f"{inputs}/tables", 0, 0.001)
        gen.warehouse(f"{inputs}/warehouse", 0, cycles=1, ventes_per=20)
        gen.feed(f"{inputs}/feed", 0, batches=1, fresh_per=5, doc_words=60)
        dump = f"{root}/perfbench.jsa"
        res = subprocess.run(
            java(work, ["--workload", "train", "--seconds", "0",
                        "--inputs", inputs, "--work", work,
                        "--out", f"{root}/result.json"],
                 f"-XX:ArchiveClassesAtExit={dump}"),
            cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True)
        if res.returncode != 0 or not os.path.exists(dump):
            sys.stderr.write(res.stdout[-4000:])
            raise SystemExit("perfbench: class-data training run failed")
        os.replace(dump, ARCHIVE)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def classpath(jar: str) -> list:
    """The jar and Spark's jars, in a fixed order."""
    jars = spark_jars()
    return [jar] + sorted(os.path.join(jars, n) for n in os.listdir(jars)
                          if n.endswith(".jar"))


sys.path.insert(0, HERE)

if __name__ == "__main__":
    print(build())
