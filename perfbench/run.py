#!/usr/bin/env python3
"""The repository's benchmark: one command runs one workload with a seed,
checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload gate_sf0.01 --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine from source
(`perfbench/build.py`), generates the workload's inputs from the seed
(`perfbench/gen.py`), runs the JVM harness (`perfbench/scala`) and
prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: with `--trace 0` every end-to-end
metric of BENCHMARK.json, with `--trace 1` every per-layer metric. Each
run also keeps its full result (samples, per-layer values and, when
traced, spans) in `perfbench/.work/runs/<workload>-seed<n>-trace<t>.json`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("gate_sf0.01", "ingest_drain")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", help="gate only: also write every query's output as parquet, "
                    "with oracle_sql.json and fingerprints.json, under this directory")
    args = ap.parse_args()

    spec = stats.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    t_build = time.time()
    build.build()
    build_s = time.time() - t_build

    work = os.path.join(HERE, ".work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    if args.workload == "ingest_drain":
        gen.generate_drain(args.seed, inputs)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.join(HERE, "data", "sf0.01"), "--inputs", inputs,
              "--work", work, "--expected", os.path.join(HERE, "expected", "gate_sf0.01.json"),
              "--out", out,
              # a checkout's one-off build is not set-up time
              "--t0-ms", str(int((T0 + build_s) * 1000))]
           + (["--dump", os.path.abspath(args.dump)] if args.dump else []))
    try:
        with open(log, "w") as lf:
            # cwd = repository root: the engine resolves `golden/` from it
            r = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        sys.stderr.write(f"[perfbench] build {build_s:.1f} s, inputs+harness "
                         f"{time.time() - T0 - build_s:.1f} s\n")
        if r.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit(f"harness failed with exit code {r.returncode}")
        with open(out) as f:
            res = json.load(f)
        for msg in res["findings"]:
            sys.stderr.write(f"[perfbench] finding: {msg}\n")
        runs = os.path.join(HERE, ".work", "runs")
        os.makedirs(runs, exist_ok=True)
        with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(dict(res, detail=stats.detail(res)), f)
        metrics = stats.per_layer(res) if args.trace else stats.end_to_end(res)
        line = stats.result_line(spec, metrics, res["correct"], res["attempted"],
                                 res["failed"], args.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
