#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The harness (perfbench/, an sbt
build of its own) is compiled together with graft's sources from
src/main/scala the first time, or whenever those sources change; later runs
reuse the build. The harness JVM then runs the workload and prints one JSON
object as the last line of stdout. Everything the run writes stays under
perfbench/target/.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
JAR = TARGET / "perfbench.jar"
STAMP = TARGET / "perfbench.stamp"
WORKLOADS = ("mape_report", "anonymize_daily", "corpus_stream")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "4g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build compiles, to skip up-to-date builds."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if STAMP.exists() and STAMP.read_text() == digest and JAR.is_file():
        return
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "package"]
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        fail("sbt is not on PATH")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT / 'src/main/scala/graft'}: run from a graft checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (pathlib.Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark 4 distribution")
    build()

    build_id = STAMP.read_text()[:16]
    work = TARGET / "work" / f"{a.workload}-{os.getpid()}"

    def java(cds, args, stdout, timeout):
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        # -UsePerfData: no hsperfdata file in the system temp dir
        cmd = (["java", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:-UsePerfData",
                f"-Xms{HEAP}", f"-Xmx{HEAP}",
                "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={work / 'tmp'}",
                f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{JAR}{os.pathsep}{pathlib.Path(spark_home) / 'jars' / '*'}",
                  "perfbench.Main"] + args)
        proc = subprocess.Popen(cmd, cwd=work, stdout=stdout, stdin=subprocess.DEVNULL, text=True)
        try:
            return proc.communicate(timeout=timeout)[0], proc.returncode
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None, None
        finally:
            shutil.rmtree(work, ignore_errors=True)

    # Class-data sharing: once per build, warm every workload up under
    # ArchiveClassesAtExit; every measured run then maps that archive
    # instead of loading Spark's and graft's classes one by one.
    jsa = TARGET / f"perfbench-{build_id}.jsa"
    if not jsa.exists():
        java(f"-XX:ArchiveClassesAtExit={jsa}", ["--archive-warm-up", str(work / "warm")],
             sys.stderr, BUILD_TIMEOUT_S)
    out, code = java(f"-XX:SharedArchiveFile={jsa}",
                     ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", a.trace, "--work", str(work),
                      "--spans", str(TARGET / "traces" / f"{a.workload}-seed{a.seed}.spans.jsonl"),
                      "--digests", str(TARGET / "digests" / build_id)],
                     subprocess.PIPE, RUN_TIMEOUT_S)
    if out is None:
        fail(f"workload did not finish within {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if code != 0 or not result:
        fail(f"harness exited with code {code} and no result")
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
