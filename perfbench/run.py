"""Runs one perfbench workload and prints its metrics.

    python3 perfbench/run.py --workload irc_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py, once per set-up rep), then runs the Spark program of
perfbench/src in one JVM. Prints every metric by name with its unit, then,
as the last line, one JSON object with the keys correct, attempted, failed
and metrics: the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1. Exits non-zero when a correctness check fails or the run breaks.
Everything it writes stays under .bench_build/ in the repository root.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("irc_ingest", "log_search", "doc_dedup")
# Set-up reps per run, each on a fresh input copy; setup_s takes their
# median. A sink-building rep costs 10 s or more, so those run it once.
SETUP_REPS = {"irc_ingest": 1, "log_search": 1, "doc_dedup": 3}
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    run_dir = os.path.join(build.OUT, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, gen_s = [], []
    for r in range(SETUP_REPS[a.workload]):
        d = os.path.join(run_dir, f"inputs{r}")
        t0 = time.perf_counter()
        gen.generate(a.workload, a.seed, d)
        gen_s.append(time.perf_counter() - t0)
        inputs.append(d)
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(build.OUT, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    log = out[:-len(".json")] + ".log"
    # -XX:-UsePerfData: no hsperfdata file outside the working tree.
    # -XX:-UseDynamicNumberOfCompilerThreads: the JIT threads live as long
    # as the JVM, so Main can take their CPU out of cpu_s.
    cmd = (["java", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.spark_jars(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--inputs", ",".join(inputs), "--work", work, "--out", out,
              "--launch-ms", str(int(time.time() * 1000)),
              "--gen-s", repr(statistics.median(gen_s))])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        sys.exit(f"perfbench: the Spark run failed ({code}); log: {log}")
    with open(out) as f:
        res = json.load(f)
    for name, m in res["report"].items():
        print(f"{name} {m['value']} {m['unit']}")
    for c in res["checks"]:
        print(f"CHECK FAILED: {c}")
    if a.trace:
        print(f"trace: {out[:-len('.json')]}-trace.json")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
