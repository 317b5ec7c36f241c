#!/usr/bin/env python3
"""KG-pipeline benchmark of the graft engine.

    python3 perfbench/run.py --workload bulk_kg --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds the engine and the benchmark
from source (perfbench/build.py), then runs one workload in one JVM on
local[4] and prints one line per metric. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans land in .bench_work/trace/.
Exits non-zero, printing no result, when the build or the run fails.
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

WORKLOADS = ("bulk_kg", "small_batches")
DRIVER_HEAP = "2g"
# every run, the first one's build included, ends well inside 180 s;
# only a cold build may take longer
RUN_BUDGET_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classes, work, main_args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return ([build.java(), "-Xms" + DRIVER_HEAP, "-Xmx" + DRIVER_HEAP, "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp] + opens +
            ["-cp", cp, "perfbench.Main"] + main_args)


def main():
    # on SIGTERM, unwind through subprocess.run, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the failure accounting and exit")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    started = time.monotonic()
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit("perfbench: build failed: %s" % e)
    work = os.path.join(build.ROOT, ".bench_work")
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)

    if args.selftest:
        main_args = ["--selftest"]
        log_name = "selftest.log"
    else:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--workdir", work]
        log_name = "%s-seed%d-trace%d.log" % (args.workload, args.seed,
                                              args.trace)
    log_path = os.path.join(work, "logs", log_name)
    # a cold build may use up the first run's budget; the run itself
    # always gets at least the budget of a warm one
    timeout = max(RUN_BUDGET_S - (time.monotonic() - started), 150)
    with open(log_path, "w") as log:
        try:
            res = subprocess.run(jvm_command(classes, work, main_args),
                                 cwd=build.ROOT, stdout=subprocess.PIPE,
                                 stderr=log, text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: run exceeded %.0f s (log: %s)"
                     % (timeout, log_path))
    lines = res.stdout.rstrip("\n").split("\n")
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        sys.exit("perfbench: run failed with code %d (log: %s)"
                 % (res.returncode, log_path))
    if args.selftest:
        print("\n".join(lines))
        return
    result = json.loads(lines[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    print("\n".join(lines))


if __name__ == "__main__":
    main()
