#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --self-test

Builds the program and the benchmark from source on first use (see
build.py), then runs the workload in one JVM on local[nproc]. The last line
of standard output is one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json declares (end-to-end with --trace 0, per layer with
--trace 1), filled from the values the JVM reports. The line before it
("perfbench detail ...") carries workload-specific figures. The exit code
is 0 only when every operation succeeded and passed its checks, apart from
the one known fault README.md names.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("curate", "vector_search", "stream_ingest")
# a run must end within 180 s; leave room to stop the JVM and clean up
RUN_DEADLINE_S = 165
VALUES = "perfbench values "

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the program's build.sbt passes the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap():
    """4 GiB of heap where the machine has room for it, else 2 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return "4g" if kb >= 12 * 1024 * 1024 else "2g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java(classes, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return (["java", "-Xmx" + heap(), "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
            + opens + ["-cp", cp, main] + args)


def catalogue(trace):
    """(name, unit) of every metric BENCHMARK.json declares for this mode."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def result(values_line, trace):
    """The result line: the JVM's values mapped onto the declared metrics.
    A per-layer metric of a layer the workload does not use reads 0; an
    end-to-end metric without a value is an error (None)."""
    got = json.loads(values_line[len(VALUES):])
    metrics = {}
    for name, unit in catalogue(trace):
        v = got["values"].get(name)
        if v is None and trace:
            v = 0.0
        if v is None:
            print("perfbench: no value for " + name, file=sys.stderr)
            return None
        metrics[name] = {"value": v, "unit": unit}
    return {"correct": got["correct"], "attempted": got["attempted"],
            "failed": got["failed"], "metrics": metrics}


def run(cmd):
    """Run the JVM with a deadline; return (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print("perfbench: run exceeded %d s" % RUN_DEADLINE_S, file=sys.stderr)
        return 1, []
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the tests of the benchmark's own checks")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    try:
        classes = build.build()
        catalogue(a.trace == 1)
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print("perfbench: " + str(e), file=sys.stderr)
        return 2

    name = "self-test" if a.self_test else "%s-%d-%d" % (a.workload, a.seed, os.getpid())
    work = os.path.join(build.build_root(), "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            return subprocess.call(java(classes, "perfbench.CheckTests", [], work))
        cores = len(os.sched_getaffinity(0))
        code, lines = run(java(classes, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work], work))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = [l for l in lines if l.startswith(VALUES)]
    for line in lines:
        if not line.startswith(VALUES):
            print(line)
    res = result(values[-1], a.trace == 1) if values else None
    if res is None:
        print("perfbench: no result", file=sys.stderr)
        return code or 1
    print(json.dumps(res))
    return code


if __name__ == "__main__":
    sys.exit(main())
