#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the graft engine sources
(src/main/scala, with src/main/resources) together with the harness
(perfbench/src) straight through the Scala compiler that ships with Spark,
so no sbt start-up or compile lands inside a timed run.

The output goes to perfbench/.build/<hash of every input>/ and is reused
while the inputs are unchanged: graftbench.jar, plus app.jsa, a class-data
sharing archive recorded from the harness self-test, which cuts the JVM's
Spark start-up (thousands of classes from a few hundred jars) by seconds.
A run without the archive is correct, only slower to start.

    python3 perfbench/build.py        # prints the jar's path
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
HARNESS = BENCH / "src"
OUT = BENCH / ".build"


def spark_jars() -> Path:
    """The jars of the Spark install: $SPARK_HOME, else the first install
    with a Scala compiler among those whose spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        str((Path(d) / "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((Path(home) / "jars").glob("scala-compiler-*.jar")):
            return Path(home) / "jars"
    sys.exit("build: no Spark install with a Scala compiler found (set SPARK_HOME)")


def _inputs():
    if not ENGINE.is_dir():
        sys.exit(f"build: engine sources not found at {ENGINE}")
    scala = sorted(ENGINE.rglob("*.scala")) + sorted(HARNESS.rglob("*.scala"))
    res = sorted(p for p in RESOURCES.rglob("*") if p.is_file()) if RESOURCES.is_dir() else []
    return scala, res


def build() -> Path:
    """Compile if needed; return the jar."""
    jars = spark_jars()
    scala, res = _inputs()
    h = hashlib.sha256()
    # this file and the launcher shape the jar and the archive too
    for p in scala + res + [BENCH / "build.py", BENCH / "run.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    target = OUT / h.hexdigest()[:16]
    jar = target / "graftbench.jar"
    if (target / "ok").exists():
        return jar
    if OUT.exists():
        shutil.rmtree(OUT)
    tmp = target / "tmp"
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx1500m", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(p) for p in scala]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout)
        sys.exit("build: scalac failed")
    for p in res:
        dest = tmp / p.relative_to(RESOURCES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    subprocess.run(["jar", "cf", str(jar), "-C", str(tmp), "."], check=True)
    shutil.rmtree(tmp)
    train(jar, target / "app.jsa")
    (target / "ok").write_text("ok\n")
    return jar


def jvm_flags(jar: Path):
    """Flags every harness JVM shares, the archive's among them."""
    jsa = jar.parent / "app.jsa"
    return [f"-XX:SharedArchiveFile={jsa}", "-Xshare:auto"] if jsa.exists() else []


def train(jar: Path, jsa: Path):
    """Record the class-data sharing archive from one self-test run. The
    self-test's verdict is not this step's concern: `perfbench/selftest.py`
    reports it."""
    work = jar.parent / "train"
    (work / "tmp").mkdir(parents=True)
    import run  # the same launch flags as a measured run
    cmd = run.java_cmd(jar, work, ["--selftest", str(work)], [f"-XX:ArchiveClassesAtExit={jsa}"])
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=str(work),
                       env=run.jvm_env(), timeout=600)
    except subprocess.TimeoutExpired:
        jsa.unlink(missing_ok=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    print(build())
