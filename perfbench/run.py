"""Benchmark entry point.

Usage (from the repository root):

    python3 perfbench/run.py --workload <etl_batches|ann_serving>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), writes the seeded
inputs (perfbench/gen.py), runs one JVM on local[nproc] that sets up and
measures the workload (perfbench/scala), applies the correctness gates
(perfbench/gates.py) and prints one JSON result line last on stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gates  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_batches", "ann_serving")
JVM_TIMEOUT_S = 160
JVM_HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_units(spec, traced):
    key = "per_layer" if traced else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def run_jvm(classes, workload, work, seconds, trace, seed, cores):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-Dspark.sql.session.timeZone=UTC"]
    if trace:
        cmd.append("-Dspark.hadoop.fs.file.impl=perfbench.CountingFileSystem")
    cmd += ["-cp", classes + os.pathsep + jars, "perfbench.Main",
            workload, work, str(seconds), str(trace), str(seed), str(cores)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result = os.path.join(work, "jvm.json")
    if rc != 0 or not os.path.isfile(result):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        raise SystemExit(f"run: benchmark JVM ended with {rc}")
    with open(result) as f:
        return json.load(f)


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    spec = load_spec(root)
    classes = build.ensure_built(root)
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(build.build_dir(root), "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, os.path.join(work, "in"))
        gen_s = time.time() - t0
        spawn = time.time()
        jvm = run_jvm(classes, a.workload, work, a.seconds, a.trace, a.seed, cores)
        setup_s = gen_s + jvm["setup_end_ms"] / 1000.0 - spawn

        t_gate = time.time()
        failed_extra, notes = gates.check(a.workload, a.seed, jvm)
        sys.stderr.write(f"run: inputs {gen_s:.1f} s, set-up {setup_s:.1f} s, "
                         f"{jvm['passes']} passes, JVM {t_gate - spawn:.1f} s, "
                         f"gates {time.time() - t_gate:.1f} s\n")
        attempted = int(jvm["attempted"])
        failed = min(attempted, int(jvm["failed"]) + failed_extra)
        for n in list(jvm["failures"]) + notes:
            sys.stderr.write(f"gate: {n}\n")

        units = metric_units(spec, a.trace == 1)
        if a.trace:
            values = dict(jvm["layers"])
            keep = os.path.join(build.build_dir(root), "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(keep, f"{a.workload}-{a.seed}.spans.jsonl"))
        else:
            values = dict(jvm["metrics"])
            values["setup_s"] = setup_s
            values["peak_rss_mb"] = jvm["peak_rss_mb"]
            print(json.dumps({"workload": a.workload, "seed": a.seed,
                              "detail": jvm["detail"]}, sort_keys=True))
        if set(values) != set(units):
            raise SystemExit(f"run: metrics {sorted(set(values) ^ set(units))} "
                             f"differ from BENCHMARK.json")
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
