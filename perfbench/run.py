#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <catalog|nyc_pipeline>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness with sbt (offline) and reuses the build while the sources are
unchanged. Each run makes its inputs (the catalog copies the fixed corpus
under corpus/, nyc_pipeline generates its raw data from the seed), starts
one harness JVM sized to this host's cores, checks the outputs and prints,
as the last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Every untraced run records
its end-to-end metrics under .perfbench_out/. The tracing overhead is the
traced run's batch time minus the untraced batch time of the same build and
workload: the same seed's if recorded, else the median over the recorded
seeds, else that of an untraced run made first. A traced run also writes
its layer artifact under .perfbench_out/ (see layer_diff.py).
Inputs, warehouse and Spark scratch live under .perfbench_work/ and are
removed after the run. See NOTES.md for what each workload measures.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import gen_nyc  # noqa: E402

WORKLOADS = ("catalog", "nyc_pipeline")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
HARNESS = os.path.join(HERE, "harness")
CORPUS = os.path.join(HERE, "corpus")
SETUP_REPEATS = 3
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_cores():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Heap of the tier-1 test command: half the host's memory in GiB,
    clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def source_stamp():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update(driver_mem().encode())
    return h.hexdigest()


def build():
    """Compile the library and the harness unless an identical build exists;
    returns (classpath, JVM options)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the repository's sources (build.sbt, src/main/scala/graft) are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(WORK, exist_ok=True)
    launch = os.path.join(HARNESS, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build-stamp")
    stamp = source_stamp()
    fresh = os.path.isfile(launch) and os.path.isfile(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=driver_mem())
        env.pop("SPARK_GRAFT_JAVA_OPTS", None)
        if not env.get("SBT_OPTS"):
            repos = os.path.expanduser("~/.sbt/repositories")
            env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx3g" + (
                f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                if os.path.isfile(repos) else "")
        with open(os.path.join(WORK, "build.log"), "w") as log:
            try:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                    cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not os.path.isfile(launch):
            fail(f"build failed (exit {rc}); see .perfbench_work/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launch) as f:
        lines = [line.rstrip("\n") for line in f]
    return lines[0], [line for line in lines[1:] if line], stamp


def generate(workload, seed, data):
    """Write the run's inputs; returns the generator's ground truth (nyc).
    The catalog's inputs are the fixed corpus under corpus/, copied so that
    the run reads and writes only its own directory."""
    if workload == "nyc_pipeline":
        return gen_nyc.generate(data, seed)
    shutil.copytree(CORPUS, data)
    return None


def run_once(workload, seed, seconds, trace, launch):
    """One harness run: returns (result, setup_s)."""
    classpath, jvm_opts, _ = launch
    rundir = os.path.join(WORK, f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    # set-up, timed several times: making the inputs (the JVM start below
    # is timed once, from launch to the harness's first timed operation)
    gen_s = []
    for i in range(SETUP_REPEATS):
        data = os.path.join(rundir, f"inputs{i}")
        t0 = time.time()
        expect = generate(workload, seed, data)
        gen_s.append(time.time() - t0)
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(data)
    out = os.path.join(rundir, "result.json")
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Harness",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(host_cores()), "--data", data, "--out", out]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    launched = time.time()
    with open(os.path.join(rundir, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} did not finish in {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(rundir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(out) as f:
        result = json.load(f)
    setup_s = statistics.median(gen_s) + result["ready_ms"] / 1000.0 - launched
    if workload == "nyc_pipeline":
        result["raw_rows"] = expect["raw_rows"]
        exports = {}
        for name in expect["exports"]:
            path = os.path.join(result["export_dir"], name)
            exports[name] = None
            if os.path.isfile(path):
                with open(path) as f:
                    exports[name] = json.load(f)
        checks = analysis.check_nyc(result, expect, exports)
        ops_ok = analysis.nyc_operations(result)
        result["failed_checks"] = [name for name, ok in checks if not ok]
        attempted, failed = analysis.account(ops_ok, [ok for _, ok in checks])
    else:
        with open(os.path.join(HERE, "fingerprints.json")) as f:
            pins = json.load(f)
        oks, failed_names = analysis.check_catalog(result, pins)
        result["failed_checks"] = failed_names
        attempted, failed = analysis.account(oks, [])
    result["attempted"], result["failed"] = attempted, failed
    shutil.rmtree(rundir, ignore_errors=True)
    return result, setup_s


def untraced_batch_s(workload, seed, build_stamp):
    """Untraced batch time of this build and workload recorded in OUT: the
    same seed's, else the median over the recorded seeds, else None."""
    recorded = {}
    for name in os.listdir(OUT):
        if name.startswith(f"{workload}-seed") and name.endswith("-untraced.json"):
            with open(os.path.join(OUT, name)) as f:
                rec = json.load(f)
            if rec["build"] == build_stamp and rec["workload"] == workload:
                recorded[rec["seed"]] = rec["end_to_end"]["batch_s"]
    if seed in recorded:
        return recorded[seed]
    return statistics.median(recorded.values()) if recorded else None


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    launch = build()
    os.makedirs(OUT, exist_ok=True)
    baseline = None if args.trace == 0 else \
        untraced_batch_s(args.workload, args.seed, launch[2])
    if baseline is None:
        result, setup_s = run_once(args.workload, args.seed, args.seconds, 0, launch)
        e2e, info = analysis.end_to_end(result, setup_s)
        baseline = e2e["batch_s"][0]
        with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-untraced.json"), "w") as f:
            json.dump({"build": launch[2], "workload": args.workload, "seed": args.seed,
                       "end_to_end": {k: v for k, (v, _) in e2e.items()}}, f)
    if args.trace == 0:
        metrics = e2e
    else:
        result, setup_s = run_once(args.workload, args.seed, args.seconds, 1, launch)
        traced_e2e, info = analysis.end_to_end(result, setup_s)
        records = analysis.layer_records(result)
        family = {f"query:{q['name']}": q["family"] for q in result.get("queries", [])}
        for r in records:
            r["family"] = family.get(r["op"], r["layer"])
        layers = analysis.per_layer(result, records, baseline, traced_e2e["batch_s"][0])
        metrics = {k: (v, analysis.PER_LAYER_UNITS[k]) for k, v in layers.items()}
        start = result["jvm_start_ms"]
        artifact = {"workload": args.workload, "seed": args.seed, "cores": result["cores"],
                    "heap_max_mb": result["heap_max_mb"],
                    "setup_ms": {"jvm_start": result["main_ms"] - start,
                                 "spark_session": result["spark_ms"] - result["main_ms"],
                                 "functions": result["session_ms"] - result["spark_ms"],
                                 "warm_up": result["ready_ms"] - result["session_ms"]},
                    "untraced_batch_s": baseline,
                    "end_to_end_traced": {k: v for k, (v, _) in traced_e2e.items()},
                    "tail": info, "per_layer": layers, "operations": records,
                    "shared_frames": result["shared_frames"],
                    "failed_checks": result["failed_checks"], "spans": result["spans"]}
        with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(artifact, f)
    for name in result["failed_checks"]:
        print(f"perfbench: check failed: {name}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": result["cores"],
                      "heap_max_mb": result["heap_max_mb"], **info}))
    print(analysis.metric_line(result["failed"] == 0, result["attempted"], result["failed"],
                               metrics))


if __name__ == "__main__":
    main(sys.argv[1:])
