#!/usr/bin/env python3
"""Run one benchmark workload and print its result record.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from this checkout's sources with sbt
(once; the build is reused while the sources are unchanged), then launches
the benchmark JVM directly, so no sbt start-up falls inside a run. Prints
exactly one line on stdout: the JSON result record. All build output, Spark
logging and diagnostics go to stderr. Exits non-zero, printing no record,
when the build, the run or the record's validation fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", HERE / "src"]
# the benchmark's build and the program's build it depends on
BUILD_FILES = [HERE / "build.sbt", HERE / "project" / "build.properties", ROOT / "build.sbt"] + \
    sorted(p for p in (ROOT / "project").glob("*") if p.is_file())
LAUNCH_ARGS = BUILD / "target" / "launch-args"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for d in SOURCES:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles program + benchmark unless the stamped build is current;
    returns the JVM arguments the build wrote: the program's JVM options,
    then the classpath."""
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    if stamp_file.is_file() and LAUNCH_ARGS.is_file() and stamp_file.read_text() == stamp:
        return LAUNCH_ARGS.read_text().splitlines()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    BUILD.mkdir(exist_ok=True)
    LAUNCH_ARGS.unlink(missing_ok=True)
    log("building program + benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "launchArgs"],
        cwd=HERE, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not LAUNCH_ARGS.is_file():
        fail(f"sbt build failed (exit {p.returncode})")
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return LAUNCH_ARGS.read_text().splitlines()


def heap():
    """Half of MemTotal, clamped to 2..8 GiB (the same rule as the
    repository's test command)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{g}g"


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    modes = {0: {m["name"] for m in spec["end_to_end"]},
             1: {m["name"] for m in spec["per_layer"]}}
    return {w["name"] for w in spec["workloads"]}, units, modes


def validate(rec, trace, units, modes):
    """The record's shape: exactly four keys, whole-number counts, and
    exactly the declared metrics of this mode, each a finite number in its
    unit."""
    if not isinstance(rec, dict) or set(rec) != {"correct", "attempted", "failed", "metrics"}:
        return "record keys are not exactly correct/attempted/failed/metrics"
    if not isinstance(rec["correct"], bool):
        return "correct is not a boolean"
    for k in ("attempted", "failed"):
        if not isinstance(rec[k], int) or isinstance(rec[k], bool) or rec[k] < 0:
            return f"{k} is not a whole number"
    if rec["attempted"] < 1:
        return "attempted < 1"
    ms = rec["metrics"]
    if not isinstance(ms, dict):
        return "metrics is not an object"
    missing = modes[trace] - set(ms)
    if missing:
        return f"missing {'per_layer' if trace else 'end_to_end'} metrics {sorted(missing)}"
    for name, m in ms.items():
        if name not in modes[trace]:
            return f"metric {name} is not a declared {'per_layer' if trace else 'end_to_end'} metric"
        if not isinstance(m, dict) or set(m) != {"value", "unit"}:
            return f"metric {name} is not {{value, unit}}"
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            return f"metric {name} has value {v!r}"
        if m["unit"] != units[name]:
            return f"metric {name} has unit {m['unit']}, declared {units[name]}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"program sources not found under {ROOT / 'src/main/scala'}", 2)
    workloads, units, modes = declared()
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; declared: {sorted(workloads)}", 2)
    if a.seconds < 1:
        fail("--seconds must be >= 1", 2)

    jvm_args = build()
    java = shutil.which("java", path=str(Path(os.environ["JAVA_HOME"]) / "bin")) \
        if os.environ.get("JAVA_HOME") else None
    java = java or shutil.which("java")
    if not java:
        fail("java not found")
    work = BUILD / "work" / a.workload
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the last -Xmx wins: it overrides the program build's default heap
    cmd = [java] + jvm_args + [f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", str(work)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    rec = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            rec = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.strip():
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    if rec is None:
        fail("benchmark JVM printed no result record")
    problem = validate(rec, a.trace, units, modes)
    if problem:
        fail(f"invalid result record: {problem}")
    print(json.dumps(rec, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
