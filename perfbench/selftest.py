#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Run from the repository root. For every workload it asserts that an
untraced run prints every end-to-end metric of BENCHMARK.json with its
unit, and that a traced run prints every per-layer metric. It then
corrupts one output on purpose (a changed target value, a wrong digest)
and asserts that the run reports the failure. ``etl_backfill`` checks
are reported, not asserted: its duplicate-key defect makes it fail.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def bench(workload, *extra, seconds=8, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "11",
           "--seconds", str(seconds), "--trace", str(trace), "--tiny"] + list(extra)
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"FAIL {workload} {extra}: exit {r.returncode}\n{r.stderr[-3000:]}")
    return json.loads(lines[-1]), r.stdout


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = []
    for wl in ("etl_poll", "board_llm", "board_sql", "etl_backfill"):
        for trace in (0, 1):
            res, out = bench(wl, trace=trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[str(trace)]:
                bad.append(f"{wl} trace={trace}: metrics/units differ from BENCHMARK.json")
            if trace == 0 and any(v["value"] <= 0 for v in res["metrics"].values()):
                bad.append(f"{wl}: an end-to-end metric is not positive: {res['metrics']}")
            if trace == 1 and "self time by layer" not in out:
                bad.append(f"{wl}: traced run printed no self-time table")
            state = f"attempted={res['attempted']} failed={res['failed']} correct={res['correct']}"
            if wl == "etl_backfill":
                print(f"  {wl} trace={trace}: {state} (reported, not asserted)")
            elif not res["correct"] or res["failed"]:
                bad.append(f"{wl} trace={trace}: checks failed ({state})")
            else:
                print(f"  ok {wl} trace={trace}: {state}")
        if wl != "etl_backfill":
            res, _ = bench(wl, "--corrupt")
            if res["correct"] or res["failed"] < 1:
                bad.append(f"{wl}: a corrupted output was not reported")
            else:
                print(f"  ok {wl} --corrupt: failed={res['failed']}")
    if bad:
        print("\n".join("FAIL " + b for b in bad))
        sys.exit(1)
    print("selftest passed")


if __name__ == "__main__":
    main()
