#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) in one `scalac` pass, using the Scala
compiler and Spark jars that ship with the Spark distribution
(`$SPARK_HOME/jars` — the same jars the engine's `build.sbt` compiles
against), and packs the classes into
`graftbench.jar`. No sbt and no dependency resolution are involved, so the
build works offline and writes only under `<root>/.bench_build/`.

It then runs one short training workload with
`-XX:ArchiveClassesAtExit` to write a class-data-sharing archive
(`graftbench.jsa`) that every benchmark JVM maps at start: Spark loads tens
of thousands of classes, and a run would otherwise spend about 5 s of its
set-up parsing them again.

Usage: python3 perfbench/build.py [<repo root>]
A build is skipped when the hash of every input source matches the
stamp of the previous build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars() -> str:
    """`$SPARK_HOME/jars`, else the jars of the distribution whose
    `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources(root: str) -> list:
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"build: engine sources not found at {engine}")
    out = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_cmd(jar: str, work: str, args: list, extra: list = ()) -> list:
    """The benchmark JVM: `graftbench.Main` with `args`, scratch in `work`."""
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jsa = os.path.join(os.path.dirname(jar), "graftbench.jsa")
    share = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    return (["java"] + opens + share + list(extra) +
            ["-Xms1g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{jar}:{spark_jars()}/*", "graftbench.Main"] + args)


def build(root: str) -> str:
    """Build if needed; return the jar to run."""
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes")
    jar = os.path.join(out_root, "graftbench.jar")
    jsa = os.path.join(out_root, "graftbench.jsa")
    stamp_file = os.path.join(out_root, "stamp")
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    for p in (stamp_file, jar, jsa):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", f"{jars}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: scalac failed")
    # the engine registers its DataSourceV2 short names through a
    # service file; the classpath carries it next to the classes
    res = os.path.join(root, "src", "main", "resources")
    for d, _, files in os.walk(res):
        for f in files:
            src = os.path.join(d, f)
            dst = os.path.join(classes, os.path.relpath(src, res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            with open(src, "rb") as a, open(dst, "wb") as b:
                b.write(a.read())
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    train(jar, jsa, os.path.join(out_root, "work", "train"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


def train(jar: str, jsa: str, work: str) -> None:
    """Write the class-data-sharing archive from one short backlog run
    (session, streaming, kafka-wire, sinks, store). Without an archive the
    benchmark still runs, only with slower starts."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", "ingest_backlog", "--seed", "0", "--seconds", "1",
            "--trace", "0", "--work", work]
    try:
        subprocess.run(java_cmd(jar, work, args, [f"-XX:ArchiveClassesAtExit={jsa}"]),
                       cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=300)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
