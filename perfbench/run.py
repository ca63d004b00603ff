#!/usr/bin/env python3
"""The benchmark's one command (see perfbench/README.md).

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 12 --trace 0

Builds the engine and harness once (perfbench/build.py), then launches one
JVM that runs the workload at local[nproc] and prints, as the last line of
standard output, {"correct", "attempted", "failed", "metrics"}.

Scratch data lives in perfbench/.scratch/run-<pid> and is removed at exit;
directories left by killed runs are removed at start. Spark's own log goes
to that directory; standard error gets the harness's phase and check notes,
and the whole log when the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
SCRATCH = BENCH / ".scratch"
OUT = BENCH / ".out"
TIMEOUT_S = 170
HEAP = "2g"
# fixed generation sizes (heap committed up front, young 768 MB, old the
# rest): with adaptive sizing off the old generation never grows past its
# initial size, so a small initial heap turns every young collection into a
# full one; fixed sizes keep the collector's work the same from run to run
GC = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", f"-Xms{HEAP}", "-Xmn768m"]
# the client compiler only: the server compiler keeps compiling Spark's hot
# paths for minutes (a replay pass speeds up by half over the first minute),
# so within a run of tens of seconds each figure would depend on how far the
# JIT had got, which a busy host slows too; compiled by the client compiler
# alone the rates are flat after the warm-up
JIT = ["-XX:TieredStopAtLevel=1"]
# what spark-submit adds on JDK 17 (JavaModuleOptions.defaultModuleOptions)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def clear_stale():
    """Remove scratch of runs whose process is gone."""
    if not SCRATCH.is_dir():
        return
    for d in SCRATCH.iterdir():
        try:
            pid = int(d.name.split("-", 1)[1])
            os.kill(pid, 0)
            continue  # still running
        except (IndexError, ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        shutil.rmtree(d, ignore_errors=True)


def java_cmd(jar: Path, work: Path, main_args, extra=None):
    opens = [x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    cp = f"{jar}:{build.spark_jars()}/*"
    return (["java", f"-Xmx{HEAP}", *GC, *JIT, f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + (extra if extra is not None else build.jvm_flags(jar))
            + opens + ["-cp", cp, "graftbench.Main"] + main_args)


def jvm_env():
    """The caller's environment minus settings that would move Spark's
    scratch out of the run directory."""
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}


def run_jvm(cmd, work: Path):
    """Run the JVM with stderr to a log; (exit code, stdout lines)."""
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            cwd=str(work), env=jvm_env(), start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    old = signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        out, _ = proc.communicate()
        sys.stderr.write(f"run: timed out after {TIMEOUT_S} s\n")
        return 124, out.splitlines()
    finally:
        signal.signal(signal.SIGTERM, old)
        log.close()
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    jar = build.build()
    clear_stale()
    work = SCRATCH / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        code, lines = run_jvm(java_cmd(jar, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work), "--out", str(OUT), "--cores", str(cores())]),
            work)
        result = None
        if code == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if result is None:
            for x in lines:
                print(x)
            sys.stderr.write((work / "jvm.log").read_text()[-20000:])
            sys.stderr.write(f"run: no result (exit {code})\n")
            return 1
        for x in lines[:-1]:
            print(x)
        sys.stderr.write("".join(l for l in (work / "jvm.log").read_text().splitlines(True)
                                 if l.startswith(("[check]", "[phase]"))))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
