#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes (5-12 minutes).

    python3 perfbench/smoke_test.py

Checks that
  - every metric name in BENCHMARK.json is printed, with its unit, by the
    untraced (end-to-end) and the traced (per-layer) run of every workload;
  - a deliberately throwing operation (--inject-failure: every fifth
    operation throws before doing any work) is counted as failed, lowers
    ok_frac, makes the run fail, and never shows up as a fast sample;
  - another seed changes the generated inputs but not the metric names.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCALE = "0.05"


def run(workload, seed=1, trace=0, extra=()):
    p = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--scale", SCALE, *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit(f"{workload} printed no result (exit {p.returncode}):\n{p.stderr[-3000:]}")
    detail = next(l for l in lines if l.get("detail") == workload)
    return p.returncode, detail, lines[-1]


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []

    def check(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg)
        if not cond:
            problems.append(msg)

    clean = {}
    # ingest_mutate is not in BENCHMARK.json (see README) but still runs
    for w in ("serve", "ingest_mutate", "text_dedup"):
        for trace in (0, 1):
            rc, detail, res = run(w, trace=trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(rc == 0 and res["correct"] and res["failed"] == 0,
                  f"{w} trace={trace}: clean run passes its checks {detail['failures']}")
            check(got == want[trace], f"{w} trace={trace}: metric names and units match "
                  f"BENCHMARK.json (missing {sorted(set(want[trace]) - set(got))}, "
                  f"extra {sorted(set(got) - set(want[trace]))})")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w} trace={trace}: every value is a number")
            if trace == 0:
                clean[w] = (detail, res)

    w = "text_dedup"
    rc, detail, res = run(w, extra=["--inject-failure"])
    check(rc != 0 and not res["correct"], "injected failures fail the run")
    check(res["failed"] > 0 and res["metrics"]["ok_frac"]["value"] < 1.0,
          f"injected failures are counted ({res['failed']} of {res['attempted']})")
    base = clean[w][0]["min_ms"]
    fast = {k: v for k, v in detail["min_ms"].items() if k in base and v < 0.5 * base[k]}
    check(not fast, f"no failure is recorded as a fast sample {fast}")

    rc, detail2, res2 = run(w, seed=2)
    check(detail2["input_fingerprint"] != clean[w][0]["input_fingerprint"],
          "another seed generates other inputs")
    check(list(res2["metrics"]) == list(clean[w][1]["metrics"]),
          "another seed prints the same metric names")

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
