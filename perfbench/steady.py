#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's spread against its bound.

    python3 perfbench/steady.py --workload graph-fixpoint --seeds 1-10 --sets 2

The spread is the inter-quartile distance of the per-run values as a
share of their median; a benchmark is steady when every spread is below
a third of the metric's bound. With --sets 2 the seeds run twice, and
each median of the second set is also compared with the first's by the
bound rule. Run from the repository root.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def seeds_arg(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run_set(spec, workload, seeds, label):
    values = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in seeds:
        t0 = time.time()
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], capture_output=True, text=True)
        walls.append(time.time() - t0)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            print(f"seed {seed}: incorrect result", file=sys.stderr)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
        print(f"{label}seed {seed} ({walls[-1]:.0f} s): " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    return values, walls


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    a = ap.parse_args()

    with open("BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    steady = True
    first = None
    for n in range(a.sets):
        label = f"set {n + 1} " if a.sets > 1 else ""
        values, walls = run_set(spec, a.workload, a.seeds, label)
        medians = {k: run.median(v) for k, v in values.items()}
        for m in spec["end_to_end"]:
            s = run.spread(values[m["name"]])
            ok = s < m["bound"] / 3
            line = (f"{label}{m['name']:18s} median={medians[m['name']]:.5g} "
                    f"spread={s:.4f} bound/3={m['bound'] / 3:.4f} "
                    f"{'ok' if ok else 'WIDE'}")
            if first is not None:
                worse = run.regressed(first[m["name"]], medians[m["name"]], m["bound"],
                                      m["better"])
                line += f" vs set 1 {first[m['name']]:.5g}: {'WORSE' if worse else 'ok'}"
                ok = ok and not worse
            steady = steady and ok
            print(line)
        print(f"{label}run wall: median {run.median(walls):.1f} s, max {max(walls):.1f} s",
              flush=True)
        first = medians
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
