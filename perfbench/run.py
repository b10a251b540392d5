"""graft benchmark: one workload, one seed, one run in a fresh JVM.

    python3 perfbench/run.py --workload ingest|read_mix|analytics \
        --seed 1 --seconds 10 --trace 0|1 [--scale 0.05] [--zipf 0.5] \
        [--heap 2g]

Run from the root of a graft checkout. It builds graft and the benchmark
from source with sbt (once per source digest), generates the seeded input,
runs the workload and prints one JSON result as the last line of stdout.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORKLOADS = ("ingest", "read_mix", "analytics")
DEADLINE_S = 175
BUILD_TIMEOUT_S = 850
sys.path.insert(0, BENCH)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Everything the build reads: graft's sources and build, the bench's."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile graft and the bench with sbt unless the sources are unchanged
    since the last build in this checkout; return the JVM launch arguments."""
    need = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "src", "main", "scala")]
    missing = [f for f in need if not os.path.exists(f)]
    if missing:
        fail(f"not a graft checkout: missing {', '.join(missing)}")
    files = source_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BENCH, "target", "launch.digest")
    launch = os.path.join(BENCH, "target", "launch.txt")
    if not (os.path.isfile(launch) and os.path.isfile(stamp)
            and open(stamp).read() == digest.hexdigest()):
        t0 = time.time()
        res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                             cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                             timeout=BUILD_TIMEOUT_S)
        if res.returncode != 0 or not os.path.isfile(launch):
            fail("sbt build failed")
        with open(stamp, "w") as fh:
            fh.write(digest.hexdigest())
        print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(launch) as fh:
        return [line.rstrip("\n") for line in fh if line.strip()]


def summary(workload, res):
    """The workload's own names for the generic end-to-end metrics."""
    m = {k: v["value"] for k, v in res["metrics"].items()}
    alias = {"ingest": {"upsert_p50_ms": "op_p50_ms", "upsert_p90_ms": "op_p90_ms",
                        "upserts_per_s": "ops_per_s"},
             "read_mix": {"read_p50_ms": "op_p50_ms", "read_p90_ms": "op_p90_ms",
                          "read_qps": "ops_per_s"},
             "analytics": {}}[workload]
    out = {name: m.get(src) for name, src in alias.items()}
    if res.get("pass_ms"):
        out["analytics_s"] = sorted(res["pass_ms"])[len(res["pass_ms"]) // 2] / 1000
    out["error_rate"] = res["failed"] / res["attempted"]
    out["ops"] = res.get("ops")
    out.update({k: v for k, v in res.items() if k.startswith("ms.") or k == "pass_ms"})
    return out


def main():
    ap = argparse.ArgumentParser(description="graft benchmark, one run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.05)
    ap.add_argument("--zipf", type=float, default=0.5)
    ap.add_argument("--heap", default="2g")
    a = ap.parse_args()
    t_start = time.time()

    jvm_args = build()

    import gen  # numpy and pyarrow only; after the checkout check above
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        t0 = time.time()
        gen.generate(a.seed, os.path.join(work, "in"), a.scale, gen.BATCHES, a.zipf, gen.READS)
        print(f"perfbench: input for seed {a.seed} in {time.time() - t0:.1f} s", file=sys.stderr)
        cores = len(os.sched_getaffinity(0))
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        out = os.path.join(work, "result.json")
        # fixed heap, touched at start: the resident heap is then the same in
        # every run and peak_rss_mb moves with what graft holds off the heap
        cmd = [java, f"-Xmx{a.heap}", f"-Xms{a.heap}", "-XX:+AlwaysPreTouch",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm_args + [
            "graftbench.Main", "--workload", a.workload, "--in", os.path.join(work, "in"),
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out, "--cores", str(cores)]
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {DEADLINE_S} s")
        if proc.returncode != 0 or not os.path.isfile(out):
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            fail(f"benchmark JVM exited with {proc.returncode}")
        with open(out) as fh:
            res = json.load(fh)
        if a.trace:
            # the spans and jobs of the traced run, kept beside the runs
            traces = os.path.join(BENCH, "work", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(work, "trace.json"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
        for reason in res.get("failures", []):
            print(f"perfbench: FAILED {reason}", file=sys.stderr)
        if not a.trace:
            print(json.dumps({"workload": a.workload, "seed": a.seed,
                              **summary(a.workload, res)}))
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
