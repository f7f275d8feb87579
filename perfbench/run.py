#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <kafka_live|replay_backfill|dedup_pipeline>
        --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), then runs the
harness in one JVM; --workload all runs the three in turn and prints every
end-to-end metric of each. With --trace 0 the last stdout line is a JSON object
with the end-to-end metrics; with --trace 1 it holds the per-layer metrics,
and the lines before it show the layer table and the tracing overhead.
Everything the run writes stays under .bench_build/ of the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

import build

WORKLOADS = ("kafka_live", "replay_backfill", "dedup_pipeline")
# one run must end within 180 s; the JVM gets what is left after the build
RUN_LIMIT_S = 170

# what spark-submit passes on JDK 17 (the same list as the sbt build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_one(workload, seed, seconds, trace, classpath):
    """Run one workload in its own JVM. Returns the result JSON line, or an
    exit code when the harness failed or ran out of time."""
    work = os.path.join(build.OUT, "run", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # The JVM runs on half the cores, so Spark gets that many task slots; the
    # other half is left to the harness's load threads and to the OS. With
    # the JVM on every core, runs spread several times wider at about the
    # same median (replay_backfill, 5 seeds on 4 cores: IQR/median 0.19
    # against 0.035). The JIT gets four compiler threads instead of the two
    # it would size for half the cores: a dedup_pipeline pass loads about 150
    # new classes, the JIT is busy for the whole measured phase, and with four
    # threads passes ran 5-14% faster (3 paired runs on 4 cores).
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx3g", f"-XX:ActiveProcessorCount={max(1, cores // 2)}",
           "-XX:CICompilerCount=4", f"-Djava.io.tmpdir={work}/tmp"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", trace, "--work", work,
            "--cores", str(cores)]

    # spark.local.dir above must win: SPARK_LOCAL_DIRS would move shuffle
    # files out of the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if timed_out.is_set():
        sys.stderr.write(f"run: {workload} exceeded {RUN_LIMIT_S} s\n")
        return 3
    if rc != 0 or result is None:
        sys.stderr.write(f"run: {workload} failed (exit {rc})\n")
        return 1
    parsed = json.loads(result)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}, parsed
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all of them one after another")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a stopped launcher takes the JVM down with it (see run_one's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in names:
        r = run_one(w, a.seed, a.seconds, a.trace, classpath)
        if isinstance(r, int):
            return r
        results[w] = r
    if a.workload != "all":
        print(results[a.workload], flush=True)
        return 0
    # all workloads: one line per metric, then every result keyed by name
    for w, r in results.items():
        parsed = json.loads(r)
        print(f"{w}: correct={parsed['correct']} attempted={parsed['attempted']} "
              f"failed={parsed['failed']}")
        for k, v in parsed["metrics"].items():
            print(f"  {w}/{k} = {v['value']} {v['unit']}")
    print("{" + ",".join(f'"{w}":{r}' for w, r in results.items()) + "}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
