#!/usr/bin/env python3
"""Run one benchmark workload and print its result record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from anywhere inside a source checkout of the repository. The first
run builds the program and the harness from source with sbt (offline)
into .bench_build/ and caches the classpath, keyed by a hash of every
source and build file; later runs start the JVM directly. The last line
of stdout is one JSON object: correct, attempted, failed, metrics. The
exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("bql_interactive", "analyze_refit", "corpus_dedup")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The harness classpath, building first when any source changed."""
    stamp, cp_file = WORK / "fingerprint", WORK / "classpath"
    fp = fingerprint()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == fp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out after {BUILD_TIMEOUT_S} s (see {log})", 1)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (see {log})", 1)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(fp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources next to {BENCH.name}/ (expected build.sbt and src/main/scala)")
    if a.seconds <= 0:
        die("--seconds must be positive")

    WORK.mkdir(parents=True, exist_ok=True)
    (WORK / "tmp").mkdir(exist_ok=True)
    cp = classpath()
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed-size heap: no resizing while the window runs
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(WORK)]
    err_log = WORK / f"{a.workload}-seed{a.seed}-trace{a.trace}.stderr.log"
    with open(err_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run timed out after {RUN_TIMEOUT_S} s (see {err_log})", 1)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 and not (lines and lines[-1].startswith('{"correct"')):
        sys.stderr.write(err_log.read_text()[-4000:])
        die(f"harness exited with {proc.returncode} (see {err_log})", proc.returncode or 1)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
