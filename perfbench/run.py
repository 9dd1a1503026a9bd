#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

Builds the graft library from this checkout's sources together with the
benchmark program (``perfbench/build.sbt``; skipped when the sources are
unchanged since the last build), runs the workload in one JVM on
``local[N]`` (N = usable cores) with one client thread, and prints, as the
last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (and writes the span trace to
``perfbench/work/spans-<workload>.jsonl``). The line before it is the
full record: seed, input shape, calibration probes, checks. Exits 1 if an
output check fails, 2 if the benchmark cannot run at all.
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
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src" / "main" / "scala"
BUILD_DIR = HERE / "target"
STAMP = BUILD_DIR / "graftbench.stamp"
CLASSPATH = BUILD_DIR / "graftbench.classpath"
WORK = HERE / "work"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# a fixed, pre-touched heap: page faults and heap resizing happen at JVM
# start, not inside a timed set-up or op
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (LIB_SRC, BENCH_SRC):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the library and the benchmark program with sbt; cache the runtime classpath."""
    stamp = source_stamp()
    if STAMP.is_file() and CLASSPATH.is_file() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    log("building graft and the benchmark program (sbt compile)")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    out = wait(proc, BUILD_TIMEOUT_S)[0]
    if proc.returncode != 0:
        sys.stderr.write(out[-8000:])
        fail("build failed")
    cp = [line.strip() for line in out.splitlines()
          if "scala-library" in line and not line.startswith("[")]
    if not cp:
        sys.stderr.write(out[-8000:])
        fail("build printed no classpath")
    CLASSPATH.write_text(cp[-1])
    STAMP.write_text(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp[-1]


def wait(proc, timeout):
    """communicate() with a hard timeout; the child's whole process group
    is killed and reaped on timeout or when this script is interrupted."""
    try:
        return proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"timed out after {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()


def on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found next to perfbench/")
    spec = json.loads(spec_file.read_text())
    if not (LIB_SRC / "graft" / "cdc" / "CdcPipeline.scala").is_file():
        fail("graft library sources (src/main/scala) are missing; nothing to build")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    classpath = build()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    n = cores()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--cores", str(n)]
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        out = wait(proc, RUN_TIMEOUT_S)[0]
    finally:
        spans = work / "spans.jsonl"
        if spans.is_file():
            spans.replace(WORK / f"spans-{args.workload}.jsonl")
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark process exited with {proc.returncode} and no result")
    rec = json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])

    metrics = {}
    rec["not_applicable"] = []
    for m in wanted:
        v = rec["metrics"].get(m["name"])
        if v is None and args.trace:
            # a layer this workload does not exercise (read.* on a CDC
            # workload, cdc.* on store_reads) reads 0
            rec["not_applicable"].append(m["name"])
            v = 0.0
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite in the {args.workload} run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    del rec["metrics"]
    print(json.dumps(rec, sort_keys=True))
    for f in rec.get("failures", []):
        log(f"FAILED {f}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
