"""graft benchmark: one run of one workload.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), runs the workload in one
JVM at local[min(4, nproc)], prints one JSON line per timed sample and, as the
last line, {"correct", "attempted", "failed", "metrics"} with every
end-to-end metric of BENCHMARK.json (--trace 0) or every per-layer metric
(--trace 1). The full output is also kept in .bench_build/results/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_SECONDS = 170

# what `spark-submit` would pass on JDK 17 (as build.sbt's javaOptions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        print("run: no BENCHMARK.json at the checkout root", file=sys.stderr)
        return 2
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        print("run: unknown workload " + a.workload, file=sys.stderr)
        return 2
    try:
        cp = build.build()
    except build.BuildError as e:
        print("build: " + str(e), file=sys.stderr)
        return 2

    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(build.OUT, "spark-local"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)])
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("run: the JVM did not finish within %d s" % JVM_SECONDS, file=sys.stderr)
        return 3

    lines = [l for l in out.splitlines() if l.strip()]
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    stem = "%s-seed%d-trace%d-%d" % (a.workload, a.seed, a.trace, int(time.time()))
    with open(os.path.join(results, stem + ".jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    if proc.returncode != 0 or not lines:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        print("run: the JVM exited with code %d" % proc.returncode, file=sys.stderr)
        return 1

    raw = json.loads(lines[-1])
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = raw["metrics"].get(m["name"])
        if v is None:
            print("run: metric %s missing from the JVM's result" % m["name"], file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for l in lines[:-1]:
        print(l)
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
