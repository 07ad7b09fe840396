#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

  python3 perfbench/run.py --workload <fixpoint|short|follow>
                           --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the program and the
harness (perfbench/build.py). Each run starts one JVM at local[nproc] that
sets up, runs an untimed warm-up pass that also checks outputs, and then
measures for S seconds. The last line printed is the result:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 its per_layer list, and the span log is written to
.bench_build/work/trace/. The line before the result holds the seed, host
load, cpu MHz spread and the workload's own detail. --selftest checks
the window attribution of Spark jobs to queries.

End-to-end metrics, the same set on every workload:
  setup_s   query workloads: median of three session starts with parquet
            footer warm-up, plus the warm-up pass; follow: median of three
            stub starts, stream starts and warm-up drains
  batch_s   query workloads: median over timed passes of one pass over the
            query list; follow: draining the 150-height backlog
  op_s_p50  query workloads: median over queries of each query's median
            time; follow: median time from publishing a tip block to its
            rows being committed and checkpointed
"""
import argparse
import json
import math
import os
import pathlib
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = build.ROOT
DATA = HERE / "data" / "sf0.01"
WORK = build.BUILD / "work"
JVM_TIMEOUT_S = 170

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def host():
    mhz = [float(line.split(":")[1]) for line in open("/proc/cpuinfo")
           if line.startswith("cpu MHz")]
    return {"loadavg": [float(x) for x in open("/proc/loadavg").read().split()[:3]],
            "cpu_mhz_min": min(mhz, default=0.0), "cpu_mhz_max": max(mhz, default=0.0)}


def java_cmd(jar, main, args, cds):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return [build.java(), *opens, cds, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dperfbench.expected={HERE / 'expected.json'}",
            "-cp", f"{jar}{os.pathsep}{build.spark_jars()}/*", main, *args]


def run_jvm(cmd, log):
    """Run in its own process group, which is killed on timeout or when this
    script is stopped; returns the exit code, or None on timeout."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def harness(workload, seed, seconds, trace, extra=()):
    """One harness JVM run; returns its result document or exits non-zero."""
    jar = build.build()
    cpus = len(os.sched_getaffinity(0))
    out = WORK / f"result-{workload}-{seed}.json"
    log = WORK / f"log-{workload}-{seed}-trace{trace}.txt"
    WORK.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus), "--data", str(DATA),
            "--work", str(WORK), "--out", str(out), *extra]
    # the first run after a build dumps the classes it loaded; every later
    # run maps them instead of loading and verifying them again
    dump = build.BUILD / "perfbench.jsa.tmp"
    cds = (f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}" if build.CDS_ARCHIVE.is_file()
           else f"-XX:ArchiveClassesAtExit={dump}")
    rc = run_jvm(java_cmd(jar, "perfbench.Main", args, cds), log)
    if rc == 0 and dump.is_file():
        dump.replace(build.CDS_ARCHIVE)
    if rc != 0 or not out.is_file():
        sys.stderr.write(log.read_text()[-6000:])
        sys.exit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}"
                 f" (log: {log.relative_to(ROOT)})")
    doc = json.loads(out.read_text())
    doc["cpus"] = cpus
    return doc


def main():
    # a stopped run still stops and reaps its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    if a.selftest:
        doc = harness("selftest", a.seed, a.seconds, 0)
        print(json.dumps(doc["info"], sort_keys=True))
        sys.exit(1 if doc["failed"] else 0)

    names = {w["name"] for w in spec["workloads"]}
    if a.workload not in names:
        sys.exit(f"perfbench: --workload must be one of {sorted(names)}")
    before = host()
    t0 = time.time()
    doc = harness(a.workload, a.seed, a.seconds, a.trace)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    metrics, finite = {}, True
    for m in wanted:
        v = doc["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            # a metric the run could not measure fails the run
            finite, v = False, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                      "trace": a.trace, "cpus": doc["cpus"], "wall_s": time.time() - t0,
                      "host_before": before, "host_after": host(), "detail": doc["info"]},
                     sort_keys=True))
    print(json.dumps({"correct": doc["failed"] == 0 and finite,
                      "attempted": doc["attempted"], "failed": doc["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
