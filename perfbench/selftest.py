#!/usr/bin/env python3
"""Self-test of the graft benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

Checks three things, with real (short) benchmark runs:
  1. the metric and workload names the benchmark prints match BENCHMARK.json;
  2. a query that throws counts as failed and its time enters no timing;
  3. the seed changes only the order of a pass, never its query set.
Takes about four minutes (three benchmark runs). Exits non-zero on failure.
"""
import json
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import run  # noqa: E402

FAILS = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILS.append(what)


def bench(*args):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    # 1. names and units in BENCHMARK.json == what run.py prints
    expect([w["name"] for w in spec["workloads"]] == run.WORKLOADS,
           "workload names match BENCHMARK.json")
    expect({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END,
           "end-to-end names and units match BENCHMARK.json")
    expect({m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER,
           "per-layer names and units match BENCHMARK.json")

    # 2. an injected failure: counted, and absent from every timing
    victim = "q6_simple_revenue"
    rc, res, err = bench("--workload", "tpch4_sf001", "--seed", "7", "--seconds", "1",
                         "--trace", "0", "--inject-fail", victim)
    expect(rc == 0 and res is not None, f"run with an injected failure completes (rc={rc})")
    if res:
        expect(set(res["metrics"]) == set(run.END_TO_END), "printed end-to-end names match")
        rec = json.loads((run.WORK / "runs" / "tpch4_sf001-7-t0.json").read_text())
        passes = len(rec["passes"])
        expect(res["failed"] == passes, f"failed = {res['failed']}, one per pass ({passes})")
        expect(res["attempted"] == passes * len(rec["queries"]), "failed queries count as attempted")
        expect(all(name != victim for _, name, _ in rec["samples"]),
               "the failed query's time is in no sample")
        expect(res["correct"], "the other queries still match the oracle")

    rc, res, err = bench("--workload", "llm_text_sf001", "--seed", "7", "--seconds", "1",
                         "--trace", "1")
    expect(rc == 0 and res is not None and set(res["metrics"]) == set(run.PER_LAYER),
           f"traced run prints every per-layer metric (rc={rc})")

    # 3. the seed sets the order only
    cp, _ = run.build(time.time() + run.BUILD_LIMIT_S)
    orders = {}
    for w in run.WORKLOADS:
        for seed in (1, 1, 2):
            out = run.WORK / f"order-{w}-{seed}.json"
            run.jvm(cp, ["--mode", "order", "--workload", w, "--seed", str(seed),
                         "--passes", "3", "--out", str(out)], time.time() + 120,
                    run.WORK / "order.log")
            orders.setdefault((w, seed), []).append(json.loads(out.read_text()))
        a, b = orders[(w, 1)]
        c = orders[(w, 2)][0]
        expect(a == b, f"{w}: same seed, same order")
        expect(a != c, f"{w}: another seed, another order")
        expect(all(sorted(p) == sorted(a[0]) for p in a + c), f"{w}: every pass holds the same set")

    print("self-test:", "PASS" if not FAILS else f"{len(FAILS)} FAILED")
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
