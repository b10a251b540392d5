"""Steadiness check: run one workload on several seeds and report, for each
end-to-end metric, the median, the quartiles and the spread (distance
between the first and third quartile as a share of the median) next to the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload read_mix --seeds 1-10 [--out file.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a, extra = ap.parse_known_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds_of(a.seeds):
        t0 = time.time()
        res = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"] + extra,
            cwd=REPO, capture_output=True, text=True)
        if res.returncode != 0:
            sys.stderr.write(res.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {res.returncode}")
        last = json.loads(res.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": round(time.time() - t0, 1), **last})
        print(json.dumps({"seed": seed, "wall_s": runs[-1]["wall_s"], "correct": last["correct"],
                          **{k: round(v["value"], 4) for k, v in last["metrics"].items()}}),
              flush=True)
    summary = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else float("inf"), "bound": bound}
        print(f"{name:28s} median {med:12.4f}  spread {summary[name]['spread']:.3f}"
              f"  bound {bound}")
    print(f"all correct: {all(r['correct'] for r in runs)}; "
          f"wall per run: {statistics.mean(r['wall_s'] for r in runs):.1f} s")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "runs": runs, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
