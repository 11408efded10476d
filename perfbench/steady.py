"""Steadiness check: two sets of runs of one commit, one run at a time.

    python3 perfbench/steady.py --runs 10 [--workload NAME ...]

Run from the repository root.  Each run gets its own seed.  For every
end-to-end metric the tool prints, per set, the median and the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the quartile spread as a
share of the median, and whether the second set's median is within the
metric's bound of the first's (BENCHMARK.json).  All runs are written as
JSON lines to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

SETS = 2


def _run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        return {"workload": workload, "seed": seed, "rc": p.returncode, "wall_s": wall,
                "stderr": p.stderr[-2000:]}
    res = json.loads(p.stdout.strip().splitlines()[-1])
    return {"workload": workload, "seed": seed, "rc": 0, "wall_s": wall, **res}


def _summary(values: list[float]) -> tuple[float, float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main() -> int:
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", help="default: every workload in BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", default="perfbench-steady.jsonl")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]

    ok = True
    with open(args.out, "a") as out:
        for w in workloads:
            sets = []
            for s in range(SETS):
                runs = []
                for i in range(args.runs):
                    r = _run(w, args.seed0 + s * args.runs + i, bench["run_seconds"])
                    out.write(json.dumps(r) + "\n")
                    out.flush()
                    print(f"{w} set {s} seed {r['seed']}: rc={r['rc']} wall={r['wall_s']:.1f}s "
                          f"failed={r.get('failed')}/{r.get('attempted')} correct={r.get('correct')}",
                          flush=True)
                    runs.append(r)
                sets.append(runs)
            for s, runs in enumerate(sets):
                bad = [r for r in runs if r["rc"] != 0 or not r["correct"]]
                shares = {r["failed"] / r["attempted"] for r in runs if r["rc"] == 0}
                if bad or len(shares) > 1:
                    ok = False
                print(f"{w} set {s}: {len(bad)} bad runs, failed shares {sorted(shares)}, "
                      f"wall {sum(r['wall_s'] for r in runs):.0f} s")
            for m in bench["end_to_end"]:
                name, bound = m["name"], m["bound"]
                line = [f"{w:24s} {name:28s}"]
                meds = []
                for runs in sets:
                    vals = [r["metrics"][name]["value"] for r in runs if r["rc"] == 0]
                    med, q1, q3 = _summary(vals)
                    spread = (q3 - q1) / med if med else 0.0
                    meds.append(med)
                    # setup_s is held to the agreement of the two medians
                    # only: its bound is there to catch work moved into
                    # set-up, which shifts the median, while its spread is
                    # mostly the JVM's cold start
                    flag = "" if name == "setup_s" or spread <= bound else " WIDE"
                    if flag:
                        ok = False
                    line.append(f"med {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {spread:.3f}{flag}")
                if meds[0]:
                    worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                    agree = worse <= bound
                    ok &= agree
                    line.append(f"second worse by {worse:+.3f} (bound {bound}) {'agree' if agree else 'DISAGREE'}")
                print(" | ".join(line), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
