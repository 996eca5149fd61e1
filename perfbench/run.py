#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <query_mix|ingest> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program and the harness with sbt when their sources changed
(outputs under .bench_build/), generates the workload's inputs from the
seed, runs the harness as a plain JVM with the repo's forked-run
javaOptions, checks the outputs against DuckDB and numpy (check.py), and
prints one JSON line last: end-to-end metrics untraced, per-layer metrics
traced. Context for reading a run (stolen CPU ticks, load average, build
time) goes to the line before it.
"""
import time

T0 = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
MAIN_CLASS = "org.apache.spark.graftbench.Harness"
RUN_LIMIT_S = 170  # the JVM is killed past this, so a run ends within three minutes

# warmup: operations run before the window, timed into setup_s.
# min_timed: operations the window runs however long they take; a fixed
# count keeps colder and warmer operations from mixing differently from
# run to run.
# op_floor_s: the shortest an operation is expected to take; it sizes the
# pool of generated inputs so the window cannot run out of fresh ones.
WORKLOADS = {
    "query_mix": {"warmup": 1, "min_timed": 2, "op_floor_s": 4.0},
    # set-up already drains the base corpus through every sink and serves
    # every read once, which warms the same code an operation runs
    "ingest": {"warmup": 0, "min_timed": 1, "op_floor_s": 6.0},
}
END_TO_END_UNITS = {"setup_s": "s", "op_s": "s", "op_cpu_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Digest of everything the build reads: the repo's build files and
    main sources, and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), HARNESS]
    for r in roots:
        paths = [r] if os.path.isfile(r) else []
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Returns (javaOptions, classpath, build seconds; 0 when up to date)."""
    fp = source_fingerprint()
    stamp = os.path.join(BUILD, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["fingerprint"] == fp and all(os.path.exists(p) for p in s["classpath"]):
            return s["java_options"], s["classpath"], 0.0
    t = time.time()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    cmd = ["sbt", "-batch", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(ROOT, '.bench_build', 'sbt-global')}",
           "benchLaunch"]
    with open(log, "w") as out:
        rc = run_group(cmd, HARNESS, out, 800)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(os.path.join(HARNESS, "target", "launch.txt")) as f:
        lines = f.read().split("\n")
    opts = [o for o in lines[0].split("\0") if o]
    cp = [c for c in lines[1:] if c]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "java_options": opts, "classpath": cp}, f)
    return opts, cp, time.time() - t


def run_group(cmd, cwd, out, timeout):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    wl = WORKLOADS[a.workload]

    opts, cp, build_s = build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t = time.time()
        n_ops = wl["warmup"] + max(wl["min_timed"], math.ceil(a.seconds / wl["op_floor_s"])) + 1
        gen.generate(a.workload, a.seed, n_ops, os.path.join(work, "in"))
        inputs_s = time.time() - t

        os.makedirs(os.path.join(work, "tmp"))
        cpus = min(4, os.cpu_count() or 1)
        cmd = (["java"] + opts + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  "-cp", ":".join(cp), MAIN_CLASS, a.workload, work,
                                  str(a.seconds), str(a.trace), str(wl["warmup"]),
                                  str(wl["min_timed"]), str(cpus)])
        budget = RUN_LIMIT_S - (time.time() - T0 - build_s)
        with open(os.path.join(work, "jvm.log"), "w") as out:
            rc = run_group(cmd, ROOT, out, budget)
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail(f"harness exited {rc}:\n{tail}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        ops = res["ops"]
        if not ops:
            fail("no operation ran in the window")

        ok, notes = check.check(a.workload, work)
        if a.trace:
            # the listeners' task CPU is part of the JVM's CPU, never more
            over = [i for i, o in enumerate(ops)
                    if o.get("exec.task_cpu_s", 0.0) > o["cpu_s"] + 1e-6]
            if over:
                ok = False
                notes.append(f"task CPU exceeds process CPU in ops {over}")

        setup_s = res["first_op_epoch_ms"] / 1000.0 - T0 - build_s
        if a.trace:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                layers = json.load(f)["per_layer"]
            setup = {"setup.inputs_s": inputs_s, "setup.bootstrap_s": res["bootstrap_s"],
                     "setup.warmup_s": res["warmup_s"]}
            # a layer the workload does not reach reads 0
            metrics = {m["name"]: {"value": setup[m["name"]] if m["name"] in setup
                                   else statistics.median([o.get(m["name"], 0.0) for o in ops]),
                                   "unit": m["unit"]} for m in layers}
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(ROOT, ".bench_work", f"trace-{a.workload}-s{a.seed}.json"))
        else:
            vals = {"setup_s": setup_s,
                    "op_s": statistics.median([o["wall_s"] for o in ops]),
                    "op_cpu_s": statistics.median([o["cpu_s"] for o in ops])}
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in vals.items()}

        context = {"context": {
            "workload": a.workload, "seed": a.seed, "ops_timed": len(ops),
            "warmup_ops": res["warmup_ops"], "window_s": res["window_s"],
            "setup_s": setup_s, "build_s": build_s, "inputs_s": inputs_s,
            "op_wall_s": [o["wall_s"] for o in ops], "op_cpu_s": [o["cpu_s"] for o in ops],
            "peak_rss_mb": res["peak_rss_mb"],
            "steal_setup_ticks": res["steal_setup_ticks"],
            "steal_window_ticks": res["steal_window_ticks"],
            "load_start": res["load_start"], "load_end": res["load_end"],
            "failures": res["failures"], "check_notes": notes[:20]}}
        print(json.dumps(context))
        print(json.dumps({"correct": ok, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
