#!/usr/bin/env python3
"""Run one workload of the QA-pipeline benchmark.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload pipeline_initial --seed 1 --seconds 12 --trace 0

The first run builds the program and the benchmark from source with sbt
(into target/ dirs and .bench_build/); later runs reuse the build while
the sources are unchanged. The run prints one JSON object as the last
line of stdout; everything else goes to stderr.
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
OUT = ROOT / ".bench_build"
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (the program's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, capture):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"[perfbench] {cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def classpath():
    """Build if the sources changed since the last build; return the classpath."""
    files = sources()
    missing = [str(p) for p in files if not p.is_file()]
    if missing or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"[perfbench] program sources not found next to {BENCH.name}/: {missing[:3]}")
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "classpath.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building the program and the benchmark with sbt")
    OUT.mkdir(parents=True, exist_ok=True)
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=BENCH, timeout=BUILD_TIMEOUT_S, capture=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out or "")
        raise SystemExit(f"[perfbench] build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def java_command(main_class, args):
    """The JVM command for a benchmark main; builds first if needed."""
    cp = classpath()
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", cp, main_class] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--volume", help="share of BASELINE volume (default: the benchmark's)")
    ap.add_argument("--record", help="append the default-seed table fingerprints to this file")
    args = ap.parse_args()

    cmd = java_command("perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--work", str(OUT / "work"),
        "--expected", str(BENCH / "expected.tsv")])
    for opt in ("volume", "record"):
        if getattr(args, opt) is not None:
            cmd += [f"--{opt}", getattr(args, opt)]
    rc, out = run_group(cmd, cwd=ROOT, timeout=args.seconds + 150, capture=True)
    lines = (out or "").splitlines()
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    for line in lines:
        if line is not result:
            print(line, file=sys.stderr)
    if rc != 0 or result is None:
        raise SystemExit(f"[perfbench] benchmark exited with {rc} and no result")
    print(result, flush=True)


if __name__ == "__main__":
    main()
