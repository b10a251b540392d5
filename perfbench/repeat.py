"""Repeatability checks.

The generator: one seed twice gives identical row counts, content digests
and expectations; another seed changes the anchors, batches and digest.
The program: two traced runs of one workload and seed give identical job,
task, shuffle, output and element counts.

    python3 perfbench/repeat.py --workload ingest --seed 1 [--out traced.json]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
EXACT_UNITS = {"count", "bytes", "ratio"}
sys.path.insert(0, BENCH)


def generated(seed, scale, name):
    import gen
    out = os.path.join(BENCH, "work", name)
    shutil.rmtree(out, ignore_errors=True)
    try:
        return gen.generate(seed, out, scale, gen.BATCHES, 0.5, gen.READS)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def check_generator(seed, scale):
    a, b, other = (generated(s, scale, f"repeat-gen-{i}")
                   for i, s in enumerate((seed, seed, seed + 1)))
    problems = []
    if a != b:
        problems.append(f"seed {seed} generated twice differs")
    for key in ("digest", "reads", "batches", "sssp_source"):
        if a[key] == other[key]:
            problems.append(f"seeds {seed} and {seed + 1} share {key}")
    return problems


def traced(command, workload, seed):
    res = subprocess.run(command + ["--workload", workload, "--seed", str(seed),
                                    "--seconds", "10", "--trace", "1"],
                         cwd=REPO, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-3000:])
        sys.exit(f"traced run exited with {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", help="write both traced results here")
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        command = json.load(fh)["command"]
    scale = float(command[command.index("--scale") + 1])
    problems = check_generator(a.seed, scale)
    first, second = (traced(command, a.workload, a.seed) for _ in range(2))
    compared = 0
    for name, m in first["metrics"].items():
        if m["unit"] in EXACT_UNITS:
            compared += 1
            if m["value"] != second["metrics"][name]["value"]:
                problems.append(f"{name}: {m['value']} vs {second['metrics'][name]['value']}")
    if not (first["correct"] and second["correct"]):
        problems.append("a traced run failed its output checks")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "compared": compared,
                      "problems": problems}))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "runs": [first, second],
                       "problems": problems}, fh, indent=1)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
