#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the repository root:

  python3 perfbench/run.py --workload catalogue --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --selftest      # the benchmark's own tests
  python3 perfbench/run.py --pin           # rewrite expected/catalogue.tsv

The first call builds the engine and the benchmark from source with sbt
(offline), stores the runtime classpath under .bench_build/, and records
a class-data-sharing archive of the classes a short tour of the
workloads loads (it cuts JVM start-up for every later run). Later calls
start the JVM directly. The last line of standard output is the result
object; every earlier line starts with '#'.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DATA = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = ("catalogue", "ingest")

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt(*tasks, timeout):
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                               cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"sbt timed out, see {log}", 3)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt failed ({p.returncode}), see {log}", 3)
    return lines


def classpath():
    """Build if the sources changed since the last build; the classpath."""
    cp_file = os.path.join(BUILD, "classpath")
    want = stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    if os.path.exists(cp_file):
        os.remove(cp_file)
    lines = sbt("compile", "export Runtime/fullClasspathAsJars", timeout=700)
    cps = [l for l in lines if "/opt/spark/jars/" in l and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath", 3)
    cp = cps[-1].strip()
    # Archive run: class loading is recorded, its output is not needed.
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    code, _ = java(cp, ["--archive", "1", "--data", DATA, "--work", os.path.join(BUILD, "work")],
                   240, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as fh:
        fh.write(want + "\n" + cp)
    return cp


def java(cp, main_args, timeout, jvm_args=None):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm_args is None:
        jvm_args = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")], *jvm_args,
           "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", *main_args]
    p = subprocess.Popen(cmd, cwd=BUILD, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("benchmark timed out", 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}; run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    if a.selftest:
        lines = sbt("test", timeout=850)
        print("\n".join(l for l in lines if "Tests:" in l or "passed" in l or "FAILED" in l))
        return

    cp = classpath()
    work = os.path.join(BUILD, "work")
    common = ["--data", DATA, "--bench", BENCH, "--work", work]
    if a.pin:
        code, lines = java(cp, ["--pin", os.path.join(BENCH, "expected", "catalogue.tsv"), *common], 1800)
        print("\n".join(lines))
        sys.exit(code)

    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    code, lines = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace), *common], 175)
    shutil.rmtree(work, ignore_errors=True)
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l if l.startswith("#") else "# " + l)
    if not result:
        fail(f"no result (exit {code})", code or 5)
    print(result[-1])
    sys.exit(code)


if __name__ == "__main__":
    main()
