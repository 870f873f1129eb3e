#!/usr/bin/env python3
"""graft performance benchmark.

    python3 perfbench/run.py --workload history|ingest|training_data \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the benchmark
from source when stale (perfbench/build.py), generates the workload's
inputs from the seed into a fresh scratch dir, warms up, measures for S
seconds, checks the outputs and prints, as the last line, one JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
The line before it carries the run's details and the host's state.
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
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("history", "ingest", "training_data")
JVM_DEADLINE_S = 165
HEAP = "3g"
# what spark-submit adds on JDK 17 (as build.sbt does for `sbt run`)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def read_first(path, default="n/a"):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return default


def cpu_times():
    fields = read_first("/proc/stat", "cpu 0").splitlines()[0].split()[1:]
    return [int(x) for x in fields]


def cpu_reference_ms():
    """A fixed integer loop: its time shows how fast this host runs now."""
    t = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t) * 1e3


def host_state():
    return {"load1": float(read_first("/proc/loadavg", "0").split()[0]),
            "cpu_ref_ms": cpu_reference_ms(), "cpu_times": cpu_times()}


def steal_pct(before, after):
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if len(d) > 7 and total > 0 else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if args.trace else spec["end_to_end"])]
    drift_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "op_p50_ms")

    before = host_state()
    classpath = build.ensure()

    run_dir = os.path.join(build.OUT, f"run-{os.getpid()}")
    results = os.path.join(build.OUT, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    # -UsePerfData: no hsperfdata file outside the checkout
    # Spark generates and loads new classes for every query plan, so the
    # default code cache can fill and start flushing compiled code
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", run_dir, "--drift-bound", str(drift_bound)])
    log_path = os.path.join(results, tag + ".log")
    with open(log_path, "w") as log:
        # Spark would put its scratch under $SPARK_LOCAL_DIRS, outside the run dir
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True, env=env)

        def stop(*_):
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(1)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: run exceeded {JVM_DEADLINE_S}s; see {log_path}\n")
            stop()
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.isfile(spans):
        shutil.move(spans, os.path.join(results, tag + ".spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = [ln[len("PERFBENCH "):] for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(f"perfbench: the run failed (exit {proc.returncode}); see {log_path}\n")
        return 1
    res = json.loads(lines[-1])
    after = host_state()

    measured = res["per_layer"] if args.trace else res["end_to_end"]
    missing = [n for n in wanted if measured.get(n) is None]
    if missing:
        sys.stderr.write(f"perfbench: metrics not measured: {missing}\n")
        return 1
    metrics = {n: {"value": measured[n], "unit": units[n]} for n in wanted}
    env = {"nproc": os.cpu_count(),
           "affinity": len(os.sched_getaffinity(0)),
           "cpu_governor": read_first("/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor"),
           "cgroup_cpu_max": read_first("/sys/fs/cgroup/cpu.max"),
           "steal_pct": steal_pct(before["cpu_times"], after["cpu_times"]),
           "load1_before": before["load1"], "load1_after": after["load1"],
           "cpu_ref_ms_before": before["cpu_ref_ms"], "cpu_ref_ms_after": after["cpu_ref_ms"]}
    details = {"env": env, "info": res["info"], "end_to_end": res["end_to_end"],
               "per_layer": res["per_layer"]}
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(details, f, indent=1)
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
