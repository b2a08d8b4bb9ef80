#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark from
source on first use (perfbench/build.py), runs the workload in one JVM
with one local Spark session, and prints, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. Every metric the run measured, with
run metadata, is in the result file named on standard error.

    python3 perfbench/run.py --self-test [--workload NAME]

runs each workload (or one) with one recorded result corrupted and
exits 0 only if the correctness gate rejects every one of them.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["feature_serving", "store_churn", "daily_load",
             "vector_store_churn"]
JVM_TIMEOUT_S = 165

# The per-layer metrics a traced run of each workload must produce; a
# per-layer metric of BENCHMARK.json outside a workload's list belongs to
# a call the workload never makes and reads 0 on it.
ENGINE = [
    "spark.catalyst.analysis_ms", "spark.catalyst.optimization_ms",
    "spark.catalyst.planning_ms", "spark.catalyst.queries",
    "spark.driver.gap_ms", "spark.exec.jobs", "spark.exec.stages",
    "spark.exec.tasks", "spark.exec.run_ms", "spark.exec.cpu_ms",
    "spark.exec.gc_ms", "spark.exec.shuffle_read_bytes",
    "spark.exec.shuffle_write_bytes", "spark.exec.spill_bytes",
    "spark.exec.failed_task_ratio", "hadoop.fs.read_ops", "hadoop.fs.list_ops",
    "hadoop.fs.write_ops", "hadoop.fs.bytes_read", "hadoop.fs.bytes_written",
    "bench.self_ms", "events.self_ms", "relational.self_ms", "load.self_ms",
    "ann.self_ms", "text.self_ms", "streaming.self_ms", "util.self_ms",
    "util.Caches.releaseAll.ms", "util.Caches.releaseAll.jobs",
    "trace.traced_wall_s", "trace.untraced_wall_s", "trace.overhead_ratio",
    "trace.spans"]
STORES = ["store.files", "store.bytes", "store.live_row_ratio"]


def calls(layer, names, suffixes=("ms", "jobs")):
    return [f"{layer}.{n}.{x}" for n in names for x in suffixes]


LOAD = calls("load", ["runLoadLogged", "readCurrent", "readSnapshotAsOf",
                      "compactHistory", "expireChangeTables"])
VECTORS = (calls("ann", ["knnGraphIncrement", "knnGraphDelete",
                         "compactKnnStore", "knnGraphRefresh", "buildIvfIndex",
                         "writeIvfIndex", "deleteFromIvfIndex",
                         "compactIvfIndex", "ivfTopKFromIndex"])
           + calls("text", ["buildDedupIndex", "deleteFromDedupIndex",
                            "compactDedupIndex", "incrementalDedupIndexed"])
           + calls("streaming", ["knnGraphView"],
                   ("build_ms", "build_jobs", "action_ms")))
EXPECTED = {
    "feature_serving": ENGINE
    + calls("events", ["snapshot", "sessionStats", "rfmScores"],
            ("build_ms", "build_jobs"))
    + calls("relational", ["pointInTimeTrainingSet"], ("build_ms", "build_jobs"))
    + ["feature_serving.action_ms"],
    "daily_load": ENGINE + STORES + LOAD,
    "vector_store_churn": ENGINE + STORES + VECTORS,
    "store_churn": ENGINE + STORES + LOAD + VECTORS,
}


def cores():
    """k of local[k]: 2, or 1 on a single CPU. The workloads' tasks are
    small (a few hundred KB shuffled per operation), so an operation's
    time is mostly the driver's: planning, scheduling and result handling.
    On 4 shared CPUs, local[2] was as fast as local[3] or faster in five
    of six alternating pairs of runs, and the CPUs it leaves free run the
    driver thread, the JIT and the collector, so a run is less exposed to
    other tenants taking CPUs away."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(2, n))


def git_sha(repo):
    if not os.path.isdir(os.path.join(repo, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """The machine's CPU time counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def run_jvm(workload, seed, seconds, trace, corrupt=False):
    """Run one workload; returns the parsed result file."""
    repo = os.getcwd()
    jar, cds, jars, digest = build.build(repo)
    started = time.time()
    base = os.path.join(build.build_dir(), "perfbench")
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{time.time_ns()}"
    root = os.path.join(base, "runs", run_id)
    result = os.path.join(base, "results", run_id + ".json")
    log = os.path.join(base, "logs", run_id + ".log")
    for d in (root, os.path.dirname(result), os.path.dirname(log)):
        os.makedirs(d, exist_ok=True)
    cmd = build.java_cmd(jar, jars, os.path.join(root, "tmp"),
                         f"-XX:SharedArchiveFile={cds}")
    cmd += ["perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--root", root, "--result", result, "--cores", str(cores())]
    if corrupt:
        cmd.append("--corrupt")
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    budget = max(10, JVM_TIMEOUT_S - (time.time() - started))
    cpu0 = cpu_times()
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                    start_new_session=True)

            def stop(signum, _frame):
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                shutil.rmtree(root, ignore_errors=True)
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                rc = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise SystemExit(f"perfbench: {workload} timed out; log {log}")
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: {workload} exited {rc}; log {log}")
    with open(result) as fh:
        res = json.load(fh)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and len(cpu0) > 7:
        # time the hypervisor gave to other machines, as a share of all
        # CPU time during the run: other tenants' load, which slows a run
        d = [b - a for a, b in zip(cpu0, cpu1)]
        res["meta"]["steal_share"] = d[7] / max(1, sum(d[:8]))
    res["meta"]["git_sha"] = git_sha(repo)
    res["meta"]["source_hash"] = digest
    res["meta"]["class_data_archive"] = os.path.basename(cds)
    with open(result, "w") as fh:
        json.dump(res, fh, indent=1)
    print(f"perfbench: result file {result}", file=sys.stderr)
    return res


def contract_line(res, spec, trace):
    """The one-line summary: exactly the metrics BENCHMARK.json names.
    A metric a correct run should have and lacks is an error; a run that
    failed reports null for what it could not measure."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    expected = set(EXPECTED[res["workload"]]) if trace else None
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        value = got.get(name, {}).get("value")
        if value is None and expected is not None and name not in expected:
            value = 0.0  # a call this workload never makes
        elif value is None and res["correct"]:
            raise SystemExit(f"perfbench: metric {name} missing")
        metrics[name] = {"value": value, "unit": m["unit"]}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def self_test(workloads, seed):
    caught = True
    for w in workloads:
        res = run_jvm(w, seed, 3, False, corrupt=True)
        ok = (not res["correct"]) and res["failed"] >= 1 and res["mismatches"]
        print(f"self-test {w}: gate {'rejected' if ok else 'MISSED'} the "
              f"corrupted result ({len(res['mismatches'])} mismatch(es): "
              f"{(res['mismatches'] or [''])[0][:120]})")
        caught = caught and bool(ok)
    return caught


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    spec_path = os.path.join(os.getcwd(), "BENCHMARK.json")
    if not os.path.exists(spec_path):
        raise SystemExit("perfbench: run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.self_test:
        sys.exit(0 if self_test([a.workload] if a.workload else WORKLOADS,
                                a.seed) else 1)
    if not a.workload:
        ap.error("--workload is required")
    res = run_jvm(a.workload, a.seed, a.seconds, bool(a.trace))
    if res["errors"] or res["mismatches"]:
        for line in (res["errors"] + res["mismatches"])[:20]:
            print(f"perfbench: {line}", file=sys.stderr)
    print(json.dumps(contract_line(res, spec, bool(a.trace)),
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
