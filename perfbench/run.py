#!/usr/bin/env python3
"""Run one benchmark measurement of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the engine's main
sources plus the harness under perfbench/src with sbt (offline) and caches
the classpath under perfbench/target; later calls reuse it until a source
file changes. Each run starts one JVM (perfbench.Main), writes its seeded
inputs and outputs under perfbench/.work (deleted when the run ends),
appends a record to perfbench/results/runs.jsonl and prints the result
object as the last stdout line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
RESULTS = BENCH / "results"
TARGET = BENCH / "target"
CLASSPATH = TARGET / "bench-classpath.txt"
STAMP = TARGET / "bench-stamp.txt"
# Inputs the engine reads relative to the repository root.
REQUIRED = ["src/main/scala", "fixtures/models/langid.bin",
            "fixtures/models/knlm.bin", "fixtures/golden/labels.jsonl"]
RUN_TIMEOUT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = source_stamp()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        repos = Path.home() / ".sbt" / "repositories"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = [l for l in proc.stdout.splitlines()
             if "target/scala-2.13/classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    TARGET.mkdir(exist_ok=True)
    CLASSPATH.write_text(lines[-1].strip())
    STAMP.write_text(stamp)
    return lines[-1].strip()


def heap():
    """Spark driver heap: half of MemTotal in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [r for r in REQUIRED if not (ROOT / r).exists()]
    if missing:
        fail(f"not a full checkout, missing {', '.join(missing)}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    classpath = build()
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(WORK), "--results", str(RESULTS)])
    started = time.time()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(f"perfbench: JVM ran {time.time() - started:.1f} s", file=sys.stderr)
    lines = out.splitlines()
    results = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    infos = [l for l in lines if l.startswith("INFO ")]
    if proc.returncode != 0 or not results:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(results[-1])
    want = expected_metrics(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        fail(f"metrics {sorted(result['metrics'])} != BENCHMARK.json {sorted(want)}")
    RESULTS.mkdir(exist_ok=True)
    with open(RESULTS / "runs.jsonl", "a") as f:
        f.write(json.dumps({"time": started, "workload": a.workload,
                            "seed": a.seed, "seconds": a.seconds,
                            "trace": a.trace, "wall_s": time.time() - started,
                            "result": result}) + "\n")
    for l in infos:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
