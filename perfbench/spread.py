"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/spread.py --out runs.json --seeds 1 2 3 [--workloads ...]
        [--seconds 12] [--trace 0]

For every workload and seed this runs perfbench/run.py once, in sequence,
and keeps the result line and the run's `#` info lines (request count,
set-up times, the host reference loop before and after). It writes the runs plus, per metric, the median,
the quartiles (statistics.quantiles(values, n=4)) and the spread: the
distance between the quartiles as a share of the median. It also reports
each end-to-end metric whose spread exceeds a third of its bound in
BENCHMARK.json. baseline/ holds two such files taken at one commit.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)


def summarize(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q[0], "q3": q[2],
            "spread": (q[2] - q[0]) / med if med else None, "n": len(values)}


def main():
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"seconds": a.seconds, "trace": a.trace, "workloads": {}}
    for w in a.workloads:
        runs = []
        for seed in a.seeds:
            p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace)],
                               cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            info = dict(l[2:].split(" = ", 1) for l in lines if l.startswith("# "))
            runs.append({"seed": seed, "exit": p.returncode, "result": res,
                         "info": {k: float(v) for k, v in info.items()}})
            print(f"{w} seed={seed} exit={p.returncode} "
                  f"correct={res and res['correct']}", file=sys.stderr, flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        names = ok[0]["metrics"].keys() if ok else []
        summary = {n: summarize([r["metrics"][n]["value"] for r in ok]) for n in names}
        report["workloads"][w] = {"runs": runs, "summary": summary}
        for n, s in summary.items():
            if n in bounds and n != "setup_s" and s["spread"] is not None \
                    and s["spread"] > bounds[n] / 3:
                print(f"{w} {n}: spread {s['spread']:.3f} > bound/3 {bounds[n] / 3:.3f}",
                      file=sys.stderr)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
