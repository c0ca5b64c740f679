"""Link-graph engine benchmark: one workload, one seed, one JSON result.

    python3 linkbench/run.py --workload crawl_rank --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark (linkbench/build.py), materialises
the seeded input once (linkbench/gen.py), then runs one JVM with Spark
`local[<cores>]` that times the workload (linkbench/src). The last
stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1
(which also leaves the span file `trace.jsonl` in the run's work dir).
Everything is read and written under the checkout; see DESIGN.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

# the JVM's share of the 180 s a run at --seconds 5 may take; a longer
# --seconds extends it by the difference
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    base = build.build_dir()
    inputs = gen.ensure(args.workload, args.seed, os.path.join(base, "inputs"))
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", f"-Dspark.sql.warehouse.dir={work}/warehouse"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
              "linkbench.Main", args.workload, inputs, work, str(args.seconds),
              str(args.trace), str(cores)])
    timeout = JVM_TIMEOUT_S + max(0.0, args.seconds - 5)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        # set-up is timed from here, so it includes the JVM's start
        proc = subprocess.Popen(cmd + [str(time.time_ns())], stdout=subprocess.PIPE,
                                stderr=log, text=True, env=env, cwd=work)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.exit(f"workload did not finish in {timeout:.0f} s; see {work}/jvm.log")
        finally:
            # also on a timeout or SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"JVM exited with {proc.returncode}; see {work}/jvm.log")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"malformed result line: {lines[-1]}")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
