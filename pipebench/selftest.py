#!/usr/bin/env python3
"""Tests of the benchmark itself, on tiny inputs (about five minutes).

    python3 pipebench/selftest.py

- every workload, traced and untraced, prints every metric BENCHMARK.json
  names, with the unit it declares, and passes its oracle;
- the exact counts repeat across two same-seed bucketed_catchup runs;
- one corrupted sink row makes the run fail with failed > 0;
- a catch-up stream that replays the history before its GTID fence makes
  the run fail with failed > 0, although its final state is correct.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ["decode.passes", "apply.fs_status", "apply.fs_list", "apply.fs_open",
         "apply.fs_create", "apply.fs_rename", "apply.fs_delete",
         "apply.fs_mkdirs", "apply.buckets_written", "apply.rows_rewritten"]


def run(workload, trace, seed=7, corrupt=0, replay=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
           "--size", "tiny", "--corrupt", str(corrupt), "--replay", str(replay)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith('{"correct"')]
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in (x["name"] for x in bench["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            code, r = run(w, trace)
            expect(code == 0 and r is not None and r["correct"] and r["failed"] == 0,
                   f"{w} trace={trace} runs and passes its oracle")
            got = (r or {}).get("metrics", {})
            for m in bench[group]:
                expect(m["name"] in got and got[m["name"]]["unit"] == m["unit"],
                       f"{w} trace={trace} prints {m['name']} in {m['unit']}")

    runs = [run("bucketed_catchup", 1, seed=11)[1] for _ in range(2)]
    for m in EXACT:
        a, b = (r["metrics"][m]["value"] if r else None for r in runs)
        expect(a is not None and a == b, f"{m} repeats exactly ({a} vs {b})")

    for w in ("bucketed_catchup", "cli_snapshot_tail"):
        code, r = run(w, 0, corrupt=1)
        expect(code != 0 and r is not None and r["failed"] > 0 and not r["correct"],
               f"{w}: a corrupted sink row fails the run")

    for w in ("bucketed_catchup", "wide_multichain_catchup"):
        code, r = run(w, 0, replay=1)
        expect(code != 0 and r is not None and r["failed"] > 0 and not r["correct"],
               f"{w}: a replay from the head of the log fails the run")

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
