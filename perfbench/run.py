"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source (see
build.py), generates the workload's inputs from the seed (gen.py), runs the
harness JVM (one process, one client, closed loop, local[nproc]), prints
every metric by name with its unit plus the correctness checks, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The full result document of the run is kept under
.bench_build/results/.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import build  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("run: no program sources (src/main/scala) in this checkout", file=sys.stderr)
        return 2
    classes = build.build()
    inputs = gen.generate(a.workload, a.seed, os.path.join(build.BUILD, "inputs"))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(build.BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, f"{tag}-{time.strftime('%Y%m%dT%H%M%S')}.json")

    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graftbench.Main", "--workload", a.workload, "--inputs", inputs, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--result", result]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    # a terminated run must not leave the JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run: harness exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        print(f"run: harness failed with code {code}", file=sys.stderr)
        return 4
    with open(result) as fh:
        doc = json.load(fh)
    report(doc, result)
    print(json.dumps({"correct": doc["correct"], "attempted": doc["attempted"],
                      "failed": doc["failed"], "metrics": doc["metrics"]}))
    return 0


def report(doc, path):
    w = print
    w(f"{doc['workload']}  traced={doc['traced']}  result={os.path.relpath(path, ROOT)}")
    def line(m):
        v = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        w(f"  {m['name']:<34} {v:>16} {m['unit']}")
    for m in doc["named_metrics"]:
        line(m)
    if doc["traced"]:
        w("  per-layer:")
        for m in doc["layer_metrics"]:
            line(m)
        w(f"  {'span':<32}{'count':>6}{'total_s':>10}{'self_s':>10}{'jobs':>7}{'tasks':>7}"
          f"{'cpu_s':>9}{'no_task_s':>10}{'plans_s':>9}")
        for s in doc["spans"]:
            w(f"  {s['span']:<32}{s['count']:>6}{s['total_s']:>10.3f}{s['self_s']:>10.3f}"
              f"{s['jobs']:>7}{s['tasks']:>7}{s['task_cpu_s']:>9.3f}{s['no_task_s']:>10.3f}"
              f"{s['plans_s']:>9.3f}")
    for k, v in sorted(doc["notes"].items()):
        if isinstance(v, str):
            w(f"  {k}: {v}")
    n = doc["noise"]
    w(f"  noise: canary_s={n['canary_s']} loadavg_1m={n['loadavg_1m']} cpus={n['cpus']}")
    w(f"  checks: {'PASS' if doc['correct'] else 'FAIL'} attempted={doc['attempted']} "
      f"failed={doc['failed']}")
    for f in doc["check_failures"]:
        w(f"    {f}")


if __name__ == "__main__":
    sys.exit(main())
