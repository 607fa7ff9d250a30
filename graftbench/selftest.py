#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 graftbench/selftest.py

For every workload, an untraced and a traced run at --size tiny must exit 0,
print each metric of BENCHMARK.json with its unit, pass every check and fail
no operation. A live_clinic run that corrupts one stored row must see its
replay check fail. A copy holding only BENCHMARK.json and graftbench/ must
exit non-zero without printing a result.
"""
import json
import shutil
import subprocess
import sys

import run

WORKLOADS = ["live_clinic", "corpus_batch", "cdc_backfill"]


def bench(*args, cwd=run.ROOT, script=run.BENCH / "run.py"):
    p = subprocess.run([sys.executable, str(script), *args], cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in WORKLOADS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            rc, out, err = bench("--workload", w, "--seed", "1", "--seconds", "2", "--trace", str(trace),
                                 "--size", "tiny")
            expect(rc == 0, f"{w} trace={trace} exits 0" + ("" if rc == 0 else f": {err[-1500:]}"))
            if rc != 0:
                continue
            res = json.loads(out[-1])
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace} reports every {section} metric with its unit")
            printed = all(any(l.split()[1:2] == [n] and l.split()[-1] == u for l in out[:-1])
                          for n, u in want.items())
            expect(printed, f"{w} trace={trace} prints every {section} metric by name and unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{w} trace={trace} passes its checks with 0 failed of {res['attempted']}")

    rc, out, err = bench("--workload", "live_clinic", "--seed", "1", "--seconds", "2", "--trace", "0",
                         "--size", "tiny", "--corrupt", "1")
    res = json.loads(out[-1]) if rc == 0 else {}
    failed_replay = any(l.startswith("  FAIL check replay.appointments") for l in out)
    expect(rc == 0 and not res["correct"] and res["failed"] >= 1 and failed_replay,
           "a corrupted store row fails the replay check")

    bare = run.TARGET / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(run.BENCH, bare / run.BENCH.name, ignore=shutil.ignore_patterns("target"))
    shutil.copy(run.ROOT / "BENCHMARK.json", bare)
    rc, out, err = bench("--workload", "live_clinic", "--seed", "1", "--seconds", "2", "--trace", "0",
                         cwd=bare, script=bare / run.BENCH.name / "run.py")
    expect(rc != 0 and not (out and out[-1].startswith("{")),
           "without the program's sources it exits non-zero and prints no result")
    shutil.rmtree(bare, ignore_errors=True)

    print("self-test " + ("passed" if not problems else f"FAILED: {len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
