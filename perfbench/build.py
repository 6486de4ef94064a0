#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's JVM driver (perfbench/src) into .bench_build/bench.jar,
then records a class-data-sharing archive of the classes a short training
run loads, so each measured JVM starts without re-parsing them.

Uses the Scala compiler that ships in Spark's jar directory, so no build tool
or network is needed. The build is skipped when a stamp of every source file
matches the previous build.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import gen

ROOT = Path.cwd()
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
JAR = OUT / "bench.jar"
ARCHIVE = OUT / "app.jsa"
HEAP = "3g"
# C1 only: within the ~40 s a run can have, C2 never finishes warming up (pass
# times kept falling for five passes and runs spread 17-33%), while C1 code
# reaches its final speed during the cold pass, about 20% slower. A tenth of
# the default compile thresholds compiles the many methods a pass calls only
# tens of times: with the defaults they ran interpreted, passes were 10-16%
# slower and the second warm pass of a run was up to 20% faster than the first.
# Spark 4 on JDK 17 outside spark-submit needs the opens (the launcher's
# JavaModuleOptions list).
# -XX:-UsePerfData keeps the JVM from writing hsperfdata outside the checkout.
JVM_OPTS = [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            "-XX:CompileThresholdScaling=0.1",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = Path(home) / "jars"
    if not list(jars.glob("spark-core_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def sources():
    main = SOURCE_DIRS[0]
    if not main.is_dir():
        raise SystemExit(f"build: engine sources missing at {main.relative_to(ROOT)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256(" ".join(JVM_OPTS).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def driver_cmd(classpath, workload, inputs, work, seconds, trace, setups, extra=()):
    """The JVM command line of one driver run (perfbench.Main)."""
    return ["java", *JVM_OPTS, *extra, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
            "perfbench.Main", workload, str(Path(inputs).resolve()), str(Path(work).resolve()),
            str(seconds), str(trace), str(setups)]


def build():
    """Returns (classpath, extra JVM flags), building first when sources changed."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    stamp_file = OUT / "stamp"
    classpath = f"{JAR}:{jars}/*"
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    if stamp_file.exists() and stamp_file.read_text() == want and JAR.exists() and ARCHIVE.exists():
        return classpath, share
    stamp_file.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: compilation failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(p for p in CLASSES.rglob("*") if p.is_file()):
            z.write(f, f.relative_to(CLASSES))
    train(classpath)
    stamp_file.write_text(want)
    return classpath, share


def train(classpath):
    """One short untraced immigration_etl run that dumps the loaded classes.
    The ETL loads the widest set of Spark classes (CSV and parquet readers,
    parquet writers, joins, aggregates); a class only another workload loads
    is read from the jar as usual."""
    work = OUT / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    inputs = gen.generate("immigration_etl", 0, work / "inputs")
    cmd = driver_cmd(classpath, "immigration_etl", inputs, work, 0, 0, 1,
                     extra=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not ARCHIVE.exists():
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: training run failed")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    print(build()[0])
