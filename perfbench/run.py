#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (perfbench/Makefile) on first use, then
runs graft.perfbench.Main in one JVM on local[nproc]. The harness prints
detail lines and, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. The exit code is 0 only when that line
was printed and every output check passed.

Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("serve", "ingest_mutate", "text_dedup")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found (set SPARK_HOME)")
    return Path(home) / "jars"


def commit():
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smoke-test hooks (perfbench/smoke_test.py); benchmark runs never set them
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--inject-failure", action="store_true")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (src/main/scala) not found next to perfbench/")
    jars = spark_jars()
    build = subprocess.run(
        ["make", "-s", "-f", str(ROOT / "perfbench" / "Makefile"),
         f"OUT={BUILD}", f"SPARK_JARS={jars}"],
        cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if build.returncode != 0:
        fail("build failed")

    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
            "--add-modules", "jdk.incubator.vector",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{BUILD / 'classes'}:{jars}/*", "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", str(a.scale), "--work", str(work),
              "--trace-out", str(BUILD / "trace"), "--commit", commit()]
           + (["--inject-failure"] if a.inject_failure else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
