#!/usr/bin/env python3
"""Benchmark of the graft library: one workload, one run.

Usage (from the root of the repository):
  python3 perfbench/run.py --workload <live_ingest|analytics_mix>
      --seed <n> --seconds <s> --trace <0|1>
      [--tail-burst <frames>] [--tail-batches <n>]

Builds the library and the harness with sbt when the build is missing or
older than the sources, makes the inputs from the seed, runs the workload in
a fresh JVM, checks its outputs and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Exits non-zero without a result line when the run cannot be
made (no library sources, build failure, crashed run). The two tail options
size live_ingest's closed-loop tail; the benchmark runs with their defaults,
and larger values measure the pipeline's capacity (see README.md).
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("live_ingest", "analytics_mix")
DEADLINE_S = 170  # a run must end within 180 s
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
LIVE_RATE_PER_S = 2000  # open-loop puts per second (2 cells each)
LIVE_TAIL_PUTS = 50000


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newest(root):
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return max(os.path.getmtime(f) for f in files if os.path.exists(f))


def build(root):
    """Compile library + harness; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= sources_newest(root):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(cp + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return cp


def run_jvm(cp, args, work, timeout_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main", *args]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):  # never leave the JVM behind
        proc.kill()
        proc.wait()
        fail(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout_s:.0f}s and was stopped")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tail-burst", type=int, default=10000)
    ap.add_argument("--tail-batches", type=int, default=2)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("the library sources (build.sbt, src/main/scala/graft) are not here; "
             "run from the root of the repository")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build(root)

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", raw_path,
            "--data", os.path.join(HERE, "data")]
    puts = subs = None
    if a.workload == "live_ingest":
        open_ms = a.seconds * 1000.0 * 2 / 3
        puts, subs = benchlib.make_schedule(a.seed, open_ms, LIVE_RATE_PER_S, LIVE_TAIL_PUTS)
        sched = os.path.join(work, "schedule.tsv")
        benchlib.write_schedule(sched, puts, subs)
        args += ["--input", sched, "--tail-burst", str(a.tail_burst),
                 "--tail-batches", str(a.tail_batches)]

    code = run_jvm(cp, args, work, DEADLINE_S - (time.time() - started))
    if not os.path.exists(raw_path):
        fail(f"run ended with code {code} and no record")
    with open(raw_path) as f:
        raw = json.load(f)
    for e in raw["errors"]:
        print(f"perfbench: ERROR {e}", file=sys.stderr)
    if code != 0:
        fail(f"run ended with code {code}")

    if a.workload == "live_ingest":
        res = metrics.live_ingest(raw, puts, subs)
    else:
        res = metrics.analytics_mix(raw, os.path.join(HERE, "oracle", "digests.json"))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing and not a.trace:
        for name in missing:
            print(f"perfbench: INVALID metric {name}: not enough support", file=sys.stderr)
        res["valid"] = False
    out = {m["name"]: {"value": float(values.get(m["name"]) or 0.0), "unit": m["unit"]}
           for m in wanted}
    for note in res.get("notes", []):
        print(f"perfbench: {note}", file=sys.stderr)
    correct = bool(res["valid"] and res["failed"] == 0)
    if not correct:
        print(f"perfbench: RUN NOT CORRECT: failed={res['failed']} of {res['attempted']}, "
              f"valid={res['valid']}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))


if __name__ == "__main__":
    main()
