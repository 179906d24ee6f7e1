#!/usr/bin/env python3
"""Display/click engine benchmark.

    python3 joinbench/run.py --workload stream_latency --seed 1 --seconds 10 --trace 0

Builds the engine and the bench from source (joinbench/build.py), runs one
workload in a fresh JVM (graft.bench.JoinBench), checks its outputs, and
prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
For batch_queries the check pass is compared against DuckDB running each
query's oracle SQL, through scripts/check_oracle.py.

Everything the run writes goes under the build directory (see build.py).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm(classes, workload, seed, seconds, trace, work, log):
    """Runs one JoinBench JVM; returns its parsed result line."""
    os.makedirs(work, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}/spark-local",
           "-cp", build.classpath(classes), "graft.bench.JoinBench",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--work", work]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"joinbench: {workload} did not finish in {JVM_TIMEOUT_S} s")
    except BaseException:
        p.kill()
        p.wait()
        raise
    tag = "JOINBENCH_RESULT "
    lines = [l[len(tag):] for l in out.splitlines() if l.startswith(tag)]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"joinbench: {workload} exited {p.returncode} without a result (log: {log.name})")
    return json.loads(lines[-1])


def oracle_failures(work, log):
    """Queries of the check pass whose rows differ from DuckDB's."""
    data = max((d for d in os.listdir(work) if d.startswith("data-")),
               key=lambda d: int(d.split("-")[1]))
    r = subprocess.run([sys.executable, os.path.join(build.ROOT, "scripts/check_oracle.py"),
                        os.path.join(work, "check"), os.path.join(work, data)],
                       stdout=subprocess.PIPE, stderr=log, text=True)
    log.write(r.stdout)
    return count_oracle_failures(r.stdout, r.returncode)


def count_oracle_failures(stdout, returncode):
    """FAIL lines; a non-zero exit without any counts as one failure."""
    fails = sum(1 for l in stdout.splitlines() if l.startswith("FAIL"))
    return fails if fails or returncode == 0 else 1


def check_repeats(res, seed, build_stamp):
    """The closed-loop probe is deterministic: for one seed its outcome
    counts and peak state rows must equal those of any earlier run of the
    same build (another build may lay out its state differently)."""
    got = {k: v for k, v in res["layers"].items() if k.startswith("closed_loop_")}
    path = os.path.join(build.build_dir(), f"closed-loop-{build_stamp[:16]}-{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        if want != got:
            res["failed"] += 1
            res["notes"].append(f"closed loop did not repeat for seed {seed}: {want} then {got}")
    else:
        with open(path, "w") as f:
            json.dump(got, f)


def result_line(res, names, units):
    """The contract's last line: correct, attempted, failed, metrics."""
    failed = int(res["failed"])
    return {"correct": failed == 0 and not res["notes"],
            "attempted": int(res["attempted"]),
            "failed": failed,
            "metrics": {n: {"value": res["values"][n], "unit": units[n]} for n in names}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    s = spec()
    if a.workload not in [w["name"] for w in s["workloads"]]:
        raise SystemExit(f"joinbench: unknown workload {a.workload}")

    classes = build.ensure_built()
    runs = os.path.join(build.build_dir(), "runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(runs, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        res = jvm(classes, a.workload, a.seed, a.seconds, bool(a.trace), work, log)
        if a.workload == "batch_queries":
            bad = oracle_failures(work, log)
            res["failed"] += bad
            if bad:
                res["notes"].append(f"{bad} queries differ from the DuckDB oracle")
    if a.trace:
        check_repeats(res, a.seed, build.stamp())
    for n in res["notes"]:
        print(f"joinbench: {n}", file=sys.stderr)

    values, specs = (res["layers"], s["per_layer"]) if a.trace else (res["metrics"], s["end_to_end"])
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        raise SystemExit(f"joinbench: {a.workload} did not measure {missing}")
    res["values"] = values
    print(json.dumps(result_line(res, [m["name"] for m in specs],
                                 {m["name"]: m["unit"] for m in specs})))


if __name__ == "__main__":
    main()
