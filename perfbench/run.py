#!/usr/bin/env python3
"""Load-pipeline benchmark for the odc-stac engine.

Run from the repository root:

    python3 perfbench/run.py --workload mosaic_cog --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, into the
checkout), generates the workload's fixtures for the seed (cached under
.perfbench/fixtures), runs one closed-loop measurement in a fresh JVM and
prints a report whose last line is the JSON result. Every run's full
record is also kept under .perfbench/runs for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench"
# the first run of a checkout builds and must still end within 900 s
BUILD_TIMEOUT_S = 660
RUN_TIMEOUT_S = 170
# what the reference publishes for its own bench (BASELINE.md)
REFERENCE = "16.48-19.15 Mpx/s (4.12-4.79 per thread) at 4 threads (odc-stac)"
# exact counts compared against counts_baseline.json in traced runs
EXACT = ["stac.parse_jobs", "spark.jobs", "spark.stages", "spark.tasks",
         "load.bins", "raster.reads", "raster.wasted_read_frac",
         "spark.shuffle_write_mb"]
# Spark on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to forked runs)
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


def run_group(cmd, timeout, **kw):
    """subprocess.run in its own process group; on timeout the whole group
    (sbt forks a JVM) is killed and waited for before this returns None."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None
    return subprocess.CompletedProcess(cmd, p.returncode, out)


def source_key():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", BENCH / "project", BENCH / "src"):
        files += sorted(p for p in d.rglob("*")
                        if p.is_file() and "target" not in p.relative_to(d).parts)
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


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


def build():
    """Compile the engine and the benchmark; returns the runtime classpath."""
    key = source_key()
    cp_file = WORK / "build" / f"classpath-{key}.txt"
    if cp_file.is_file():
        return cp_file.read_text().strip(), key
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    (WORK / "build").mkdir(parents=True, exist_ok=True)
    log = WORK / "build" / "sbt.log"
    with open(log, "w") as out:
        r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                      BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(), stderr=out)
    if r is None:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    with open(log, "a") as out:
        out.write(r.stdout)
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (log: {log})")
    for old in (WORK / "build").glob("classpath-*.txt"):
        old.unlink()
    cp_file.write_text(lines[-1].strip())
    return lines[-1].strip(), key


def commit(key):
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"tree:{key}"


def report(rec, stamp, result):
    m = rec["metrics"]
    w = rec["workload"]
    print(f"perfbench {w} seed={rec['seed']} trace={rec['trace']} "
          f"ops={result['attempted']} failed={result['failed']} "
          f"items/op={rec['items_per_op']} Mpx/op={int(rec['expected']['px']) / 1e6:.2f}")
    for name, v in m.items():
        val = v["value"]
        extra = ""
        if name == "op_s_tail":
            extra = f"  (p{rec['tail_percentile']}, {rec['tail_beyond']} samples beyond)"
        if name == "setup_s":
            reps = ", ".join(f"{x:.2f}" for x in rec["setup_reps_s"])
            extra = f"  (jvm {rec['jvm_start_s']:.2f} s + median of set-ups [{reps}])"
        shown = "n/a" if val is None else f"{val:.6g}"
        print(f"  {name:26s} {shown:>12s} {v['unit']}{extra}")
    if rec["trace"] == 0:
        print(f"  {'failed_frac':26s} {rec['failed_frac']:>12.6g} ratio")
    for err in rec["setup_errors"]:
        print(f"  SET-UP CHECK FAILED: {err}")
    if w == "mosaic_cog" and rec["trace"] == 0:
        mpx = m["mpx_per_s"]["value"] or 0.0
        print(f"  reference: {mpx:.2f} Mpx/s = {mpx / rec['threads']:.2f} Mpx/s/thread "
              f"at {rec['threads']} threads, vs {REFERENCE}; inputs differ: synthetic "
              f"Deflate COGs at 10 m here, S2 L2A at 80 m there")
    if rec["trace"] == 1:
        print("  self time per op (s): " + ", ".join(
            f"{k} {v:.4f}" for k, v in rec["self_s_per_op"].items()))
        for flag in rec.get("count_flags", []):
            print(f"  COUNT MOVED: {flag}")
    print("  host: " + ", ".join(f"{k}={v}" for k, v in stamp.items()))


def count_flags(rec):
    """Exact counts that did not repeat within the run or differ from the
    committed baseline for this workload."""
    flags = [f"{k} varied between ops" for k, ok in rec["counts_repeat"].items() if not ok]
    base_file = BENCH / "counts_baseline.json"
    base = json.loads(base_file.read_text()).get(rec["workload"], {}) if base_file.is_file() else {}
    for k in EXACT:
        now = rec["metrics"].get(k, {}).get("value")
        # shuffled pixels compress differently for each seed's values
        tol = 0.02 if k == "spark.shuffle_write_mb" else 1e-9
        if k in base and now is not None and abs(now - base[k]) > tol * max(1.0, abs(base[k])):
            flags.append(f"{k} {base[k]} -> {now}")
    return flags


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help="mosaic_cog, warp_3857, catalog_timeseries or archive_geomedian")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {BENCH.name}/ (expected build.sbt and src/main/scala)")
    cp, key = build()
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    stamp = {"host": socket.gethostname(), "nproc": os.cpu_count(),
             "load_before": "/".join(f"{x:.2f}" for x in os.getloadavg()),
             "commit": commit(key), "seed": a.seed}
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    # a fixed-size heap and the throughput collector: with the default G1
    # heap the op time kept drifting through a run
    cmd = [str(java), "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g",
           f"-Djava.io.tmpdir={WORK / 'tmp'}",
           *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(WORK),
           "--launch-ns", str(time.time_ns())]
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    log = WORK / "logs" / f"{a.workload}-s{a.seed}-t{a.trace}.stderr"
    with open(log, "w") as err:
        r = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stderr=err)
    if r is None:
        fail(f"run timed out after {RUN_TIMEOUT_S} s (log: {log})")
    lines = r.stdout.splitlines()
    recs = [ln[len("PERFBENCH_RECORD "):] for ln in lines if ln.startswith("PERFBENCH_RECORD ")]
    if r.returncode != 0 or not recs or not lines[-1].startswith("{"):
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"run failed with exit code {r.returncode} (log: {log})")
    rec = json.loads(recs[-1])
    result = json.loads(lines[-1])
    stamp["load_after"] = "/".join(f"{x:.2f}" for x in os.getloadavg())
    stamp["java"] = rec["java_version"]
    stamp["spark"] = rec["spark_version"]
    rec["stamp"] = stamp
    rec["result"] = result
    if a.trace == 1:
        rec["count_flags"] = count_flags(rec)
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    (runs / name).write_text(json.dumps(rec, indent=1))
    report(rec, stamp, result)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
