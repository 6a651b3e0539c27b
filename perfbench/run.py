#!/usr/bin/env python3
"""One command for the engine's benchmark.

    python3 perfbench/run.py --workload ann --seed 1 --seconds 6 --trace 0

Builds the engine and the benchmark from the checkout (perfbench/build.py),
runs one workload in one JVM on local[4], and prints the run's named
figures followed by one JSON line: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics of BENCHMARK.json;
--trace 1 registers the Spark listeners, records spans and reports the
per-layer metrics (a layer the workload does not call reads 0). A traced
run writes its spans to .bench_build/perfbench/spans/<workload>-seed<N>.jsonl.

    python3 perfbench/run.py --selftest --seed 1

runs every workload traced twice and checks that the deterministic work
counters repeat exactly.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ann", "pipeline")
# work counters that cannot drift: equal on every traced run of one seed
DETERMINISTIC = {
    "ann": ["kernel.dist_evals_per_query", "kernel.dist_evals_per_insert",
            "index.jobs_per_probe", "lsm.compact_rows_rebuilt"],
    "pipeline": ["streaming.batches"],
}
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"run: {msg}\n")
    sys.exit(2)


def spec():
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"missing {path}")
    with open(path) as fh:
        return json.load(fh)


def run_jvm(classpath, workload, seed, seconds, trace):
    """One JVM run; returns (figure lines, result dict or None)."""
    out = build.OUT
    work = os.path.join(out, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(out, "spans", f"{workload}-seed{seed}.jsonl")
    cmd = [build.java_tool("java"), "-Xmx3g", "-XX:-UsePerfData",
           "--add-modules=jdk.incubator.vector", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--data", os.path.join(build.BENCH_DIR, "data", "sf0.001"),
            "--expect", os.path.join(build.BENCH_DIR, "expect", "pipeline.tsv")]
    if trace:
        cmd += ["--spans", spans]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        stdout, _ = proc.communicate()
        sys.stderr.write(f"run: {workload} exceeded {JVM_TIMEOUT_S} s and was killed\n")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines.pop())
    return lines, result


def complete(result, bench, trace):
    """Checks the run reported every metric of BENCHMARK.json for its
    mode; a missing per-layer metric is a layer the workload never calls."""
    key = "per_layer" if trace else "end_to_end"
    got = result["metrics"]
    metrics = {}
    for m in bench[key]:
        name, unit = m["name"], m["unit"]
        if name in got and got[name]["value"] is not None:
            metrics[name] = {"value": got[name]["value"], "unit": unit}
        elif trace:
            metrics[name] = {"value": 0.0, "unit": unit}
        else:
            sys.stderr.write(f"run: metric {name} was not measured\n")
            result["failed"] += 1
            result["attempted"] += 1
            result["correct"] = False
    for name in sorted(set(got) - {m["name"] for m in bench[key]}):
        sys.stderr.write(f"run: metric {name} is not declared in BENCHMARK.json\n")
    result["metrics"] = metrics
    return result


def selftest(classpath, seed, seconds):
    ok = True
    for w in WORKLOADS:
        runs = []
        for _ in range(2):
            lines, result = run_jvm(classpath, w, seed, seconds, 1)
            # the traced run's own end-to-end figures, for the tracing overhead
            for line in lines:
                if line.startswith("e2e"):
                    print(f"selftest {w:10s} traced {line}")
            runs.append(result)
        for name in DETERMINISTIC[w]:
            vals = [r["metrics"].get(name, {}).get("value") if r else None for r in runs]
            same = vals[0] is not None and vals[0] == vals[1]
            ok &= same
            print(f"selftest {w:10s} {name:32s} {vals[0]} {vals[1]} {'ok' if same else 'DIFFERS'}")
        for i, r in enumerate(runs):
            if not (r and r["correct"]):
                ok = False
                print(f"selftest {w:10s} traced run {i + 1} not correct")
    print("selftest " + ("passed" if ok else "FAILED"))
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    bench = spec()
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))
    if args.selftest:
        sys.exit(0 if selftest(classpath, args.seed, args.seconds) else 1)
    if args.workload is None:
        fail("--workload is required")
    lines, result = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace)
    for line in lines:
        print(line)
    if result is None:
        fail("the benchmark JVM printed no result")
    print(json.dumps(complete(result, bench, args.trace)))


if __name__ == "__main__":
    main()
