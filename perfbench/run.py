#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (sbt, once per source
state), then runs the workload in a fresh JVM at local[<cores>] with its
own java.io.tmpdir, Spark local dir and working directory under
`.bench_build/`. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. The run's artifact (settings, output checks, spans) is
kept under `.bench_build/artifacts/`. Exits nonzero, printing no result,
when it cannot build or run; exits 1 after printing the result when an
output check failed.

    python3 perfbench/run.py --record batch_sql

writes the workload's expected result fingerprints (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [
    "-Xmx3g",
    # the engine's build sets these for every harness main: 40+ codegen'd
    # queries in one JVM overflow the default JIT code cache
    "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    BUILD.mkdir(exist_ok=True)
    stamp = source_stamp()
    meta_path = BUILD / "build.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if meta.get("stamp") == stamp and all(Path(p).exists() for p in meta["classpath"]):
            return meta["classpath"]
    log = BUILD / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(l[:300] for l in lines[-40:]) + "\n")
        die(f"build failed (exit {rc}), log in {log}")
    classpath = lines[-1].strip().split(os.pathsep)
    meta_path.write_text(json.dumps({"stamp": stamp, "classpath": classpath,
                                     "build_s": round(time.time() - t0, 1)}))
    return classpath


def jvm_args(classpath, run_dir):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + JVM_FLAGS + [
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dspark.local.dir={run_dir / 'local'}",
        "-cp", os.pathsep.join(classpath), "perfbench.Main"])


def run_jvm(cmd, run_dir, timeout_s):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")  # overrides spark.local.dir
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir / "work", env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0:
        sys.stderr.write("".join(log.read_text().splitlines(True)[-60:]))
        die("the benchmark JVM " + ("timed out" if rc is None else f"exited {rc}"), 3)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="WORKLOAD",
                    help="write the workload's expected fingerprints instead of checking them")
    ap.add_argument("--verified", metavar="DIR",
                    help="with --record: oracle-checked result dumps, one parquet directory per query")
    a = ap.parse_args()
    if "SPARK_GRAFT_CONF" in os.environ:
        die("SPARK_GRAFT_CONF is set; it overlays the engine's session defaults, "
            "which are what this benchmark measures. Unset it.")
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        die("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_path.read_text())
    workloads = json.loads((BENCH / "workloads.json").read_text())["workloads"]
    name = a.record or a.workload
    if name not in workloads:
        die(f"unknown workload {name!r}; one of {', '.join(workloads)}")
    w = workloads[name]
    fixture = BENCH / "fixture" / "sf0.1"
    if not (fixture / "lineitem.parquet").is_file():
        die(f"fixture missing under {fixture}")

    classpath = build()
    started = time.time()
    cores = len(os.sched_getaffinity(0))
    tag = f"{name}-seed{a.seed}-trace{a.trace}"
    run_dir = BUILD / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        (run_dir / d).mkdir(parents=True)
    args = {"workload": name, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": cores, "fixture": fixture, "work": run_dir / "work", "out": run_dir}
    if w.get("queries"):
        args["queries"] = ",".join(w["queries"])
        args["tables"] = ",".join(w["tables"])
    if a.record:
        if not a.verified:
            die("--record needs --verified")
        args["record"] = BENCH / w["expected"]
        args["verified"] = Path(a.verified).resolve()
    elif w.get("expected"):
        args["expected"] = BENCH / w["expected"]
    args.update(w.get("params", {}))
    cmd = jvm_args(classpath, run_dir) + [x for k, v in args.items() for x in (f"--{k}", str(v))]
    os.sync()  # start from clean page cache state, not earlier runs' writeback
    try:
        run_jvm(cmd, run_dir, RUN_TIMEOUT_S - (time.time() - started))
        res = json.loads((run_dir / "result.json").read_text())
        artifacts = BUILD / "artifacts"
        artifacts.mkdir(exist_ok=True)
        shutil.copy(run_dir / "result.json", artifacts / f"{tag}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.record:
        print(f"wrote {BENCH / w['expected']}")
        return

    section = "per_layer" if a.trace else "end_to_end"
    exercised = tuple(w["layers"])
    metrics = {}
    for m in spec[section]:
        v = res[section].get(m["name"])
        if v is None and section == "per_layer" and not m["name"].startswith(exercised):
            v = 0.0  # the layer does not run in this workload
        if v is None or v != v:
            die(f"{name} did not measure {m['name']}", 3)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = int(res["failed"])
    out = {"correct": failed == 0, "attempted": int(res["attempted"]),
           "failed": failed, "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
