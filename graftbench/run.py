#!/usr/bin/env python3
"""graftbench: closed-loop benchmark of graft's CDC loop and query engine.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program and the
benchmark with sbt (offline) and caches the launch spec under
graftbench/target/launch, keyed by a hash of the sources; later calls start
the measuring JVM directly. One JVM per run, Spark local[k] with
k = min(4, nproc), one client thread.

Workloads (BENCHMARK.json lists the gated ones):
  live_clinic   reference seed in a 16-bucket store; per round one 120-event
                micro-batch, then one dashboard refresh read through the store
  corpus_batch  a fixed mix of registered queries over the sf0.1 corpus
                tables in graftbench/corpus, in a seeded order per round
  cdc_backfill  10^6-row destination; per round one 10^5-event batch, no reads

Each run sets up three times (setup_s is the session plus the median
set-up), warms up until the JIT compiles little next to a round and rounds
stop getting faster (at most three rounds; the record flags a run that hits
the bound), then measures a fixed 4 rounds, whatever --seconds says (it is
recorded). Correctness is checked in the same run. --trace 1 adds spans
around every call into a layer and a Spark listener; its metrics are the
per-layer ones (steady.py --trace-runs reports the tracing overhead).
WORKLOAD_JVM_FLAGS below says which JVM flags a workload adds to the
program's, and why.

Prints every metric with its unit, then, as the last line, the JSON result.
Run records: graftbench/target/runs/*.json, spans: graftbench/target/traces/.
Extra flags, for the self-test: --size tiny, --corrupt 1.
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
TARGET = BENCH / "target"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# JVM flags a workload adds to the program's. live_clinic runs on C1 alone: with
# tiered compilation its C2 queue never drains within a run (every
# micro-batch generates new classes), so C2 compiling took 3.6-9 CPU-s of
# every ~3-s round and the rounds measured the compiler's backlog; on C1 the
# JIT takes ~0.5 CPU-s a round and the rounds are as fast or faster.
# corpus_batch is compute-bound and 2.4x slower on C1, so it keeps tiered
# compilation.
WORKLOAD_JVM_FLAGS = {"live_clinic": ["-XX:TieredStopAtLevel=1"]}


def source_files():
    """Everything the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def git_commit():
    if not (ROOT / ".git").exists():
        return "none (not a git checkout)"
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=20).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def sbt_env():
    """sbt strictly offline: dependencies come from the local caches only."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # no boot lock or perf-data file; ivy lock, native helpers and temp files
    # under target/, so that the build writes nothing outside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
            f"-Dsbt.ivy.home={TARGET / 'ivy'}", f"-Djna.tmpdir={TARGET / 'jna'}",
            f"-Djava.io.tmpdir={TARGET / 'tmp'}", "-XX:+PerfDisableSharedMem", "-Xmx2g"]
    repos = Path(os.path.expanduser("~/.sbt/repositories"))
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def launch_spec(digest):
    """(jvm options, classpath) of the built program, building if needed."""
    spec = TARGET / "launch" / f"{digest}.txt"
    if not spec.exists():
        (TARGET / "tmp").mkdir(parents=True, exist_ok=True)
        log = TARGET / "build.log"
        t0 = time.time()
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"], cwd=BENCH,
                                env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0 or not (TARGET / "launch.txt").exists():
            sys.exit(f"build failed (exit {rc}); see {log}")
        spec.parent.mkdir(exist_ok=True)
        shutil.copy(TARGET / "launch.txt", spec)
        print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    lines = spec.read_text().splitlines()
    sep = lines.index("--")
    return lines[:sep], lines[sep + 1:]


def run_jvm(args, digest):
    opts, cp = launch_spec(digest)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{args.size}-{time.time_ns()}"
    work = TARGET / "work" / run_id
    (work / "tmp").mkdir(parents=True)
    for d in ("runs", "traces"):
        (TARGET / d).mkdir(exist_ok=True)
    record = TARGET / "runs" / f"{run_id}.json"
    spans = TARGET / "traces" / f"{run_id}.jsonl"
    # temp files in the run's work directory, perf counters not in /tmp
    cmd = ["java", *opts, *WORKLOAD_JVM_FLAGS.get(args.workload, []), f"-Djava.io.tmpdir={work / 'tmp'}",
           "-XX:+PerfDisableSharedMem", "-cp", ":".join(cp), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--size", args.size, "--corrupt", str(args.corrupt),
           "--work", str(work), "--bench-dir", str(BENCH), "--record", str(record),
           "--spans", str(spans), "--commit", git_commit(), "--source-hash", digest]
    log = work / "jvm.log"
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not record.exists():
            sys.stderr.write(log.read_text()[-4000:])
            sys.exit(f"benchmark JVM failed (exit {rc})")
    finally:
        if record.exists():
            shutil.rmtree(work, ignore_errors=True)
    return record


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["live_clinic", "corpus_batch", "cdc_backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"no program sources next to {BENCH.name}/: run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    record_path = run_jvm(args, source_hash())
    rec = json.loads(record_path.read_text())

    w = rec["warmup"]
    print(f"{rec['workload']} seed={rec['seed']} k={rec['provenance']['k']} "
          f"warm-up={w['rounds']} rounds ({'observed warm' if w['ended_by_observation'] else 'BOUND HIT' if w['hit_bound'] else 'not observed'}) "
          f"measured={rec['measured_rounds']} rounds in {rec['measured_s']:.1f} s")
    for section in ("end_to_end", "per_layer"):
        for name, m in rec[section].items():
            print(f"  {section:10s} {name:40s} {m['value']:16.4f} {m['unit']}")
    print(f"record {record_path}")
    for op in rec["ops"]:
        if op["kind"] == "check" or not op["ok"]:
            print(f"  {'ok  ' if op['ok'] else 'FAIL'} {op['kind']} {op['name']} {op['detail']}")

    section, names = ("per_layer", spec["per_layer"]) if args.trace else ("end_to_end", spec["end_to_end"])
    metrics = {}
    for m in names:
        got = rec[section].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            sys.exit(f"metric {m['name']} missing or in the wrong unit: {got}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
