#!/usr/bin/env python3
"""Build and run graft's serving benchmark for one workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload search_read --seed 1 --seconds 20 --trace 0

Builds perfbench/ (graft's sources plus the benchmark's) with sbt when the
sources changed since the last build, runs the benchmark in its own JVM, and
prints that JVM's receipt line and, last, its one-line JSON result.
Run outputs (receipt, span file, JVM log, scratch state) go under
.perfbench_out/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (as in the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "src" / "main" / "resources", BENCH / "src"]
    files = [p for d in dirs if d.is_dir() for p in d.rglob("*") if p.is_file()]
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return str(Path(home) / "jars")
    # fall back to the directory the repository's own build compiles against
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return m.group(1)
    fail(2, "cannot find the Spark jars (set SPARK_HOME)")


def build(jars, stamp):
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = Path("~/.sbt/repositories").expanduser()
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.sparkJars={jars}", "compile"]
    log = ROOT / ".perfbench_out" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        code = run_bounded(cmd, BENCH, env, out, out, BUILD_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(log.read_text()[-3000:])
        fail(3, f"build failed (exit {code}); log in {log}")
    STAMP.write_text(stamp)


def run_bounded(cmd, cwd, env, stdout, stderr, timeout):
    """Run cmd in its own process group; on timeout kill the whole group and wait for it."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared_metrics(trace):
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    rows = json.loads(spec.read_text())["per_layer" if trace else "end_to_end"]
    return {r["name"]: r["unit"] for r in rows}


def main():
    # a SIGTERM must still reach the except clause that stops the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["search_read", "search_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(2, f"no graft sources under {ROOT / 'src/main/scala'}; nothing to benchmark")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail(2, "java and sbt must be on PATH")
    jars = spark_jars()
    stamp = digest()
    build(jars, stamp)

    out = ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    cp = os.pathsep.join([str(CLASSES), str(Path(jars) / "*")])
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "--add-modules=jdk.incubator.vector", "-Xmx2g", f"-Djava.io.tmpdir={out / 'tmp'}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.ServeBench",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", str(out), "--commit", commit(), "--digest", stamp]
    with open(out / "stdout.txt", "w") as so, open(out / "jvm.log", "w") as se:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "spark-local"))
        code = run_bounded(cmd, ROOT, env, so, se, RUN_TIMEOUT_S)
    lines = (out / "stdout.txt").read_text().strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write((out / "jvm.log").read_text()[-3000:])
        fail(4, f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; log in {out}")

    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(5, f"malformed result line: {lines[-1][:300]}")
    want = declared_metrics(args.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want is not None and got != want:
        fail(5, f"metrics differ from BENCHMARK.json: {sorted(set(want) ^ set(got))}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
