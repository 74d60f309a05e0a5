#!/usr/bin/env python3
"""The repository benchmark: one workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark program with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from the seed
under .bench_build/, starts the benchmark JVM (perfbench.Main), checks the
outputs, and prints one JSON object as the last line of standard output:
end-to-end metrics untraced (--trace 0), per-layer metrics traced
(--trace 1). See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "bench"))
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import gen_ffi  # noqa: E402
import gen_lake  # noqa: E402
import gen_orders  # noqa: E402
import metrics  # noqa: E402

BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, a first run ends within 900 s
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key(root):
    """Fingerprint of everything the build compiles, and of SPARK_DRIVER_MEM,
    which the engine's build turns into the JVM heap options."""
    h = hashlib.sha256(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, deadline):
    """Compiles engine and benchmark; returns (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    key_file = os.path.join(HERE, "target", "launch.key")
    key = source_key(root)
    if os.path.exists(launch) and os.path.exists(key_file) and open(key_file).read() == key:
        pass
    else:
        env = dict(os.environ)
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        env.setdefault("COURSIER_MODE", "offline")
        log("building engine and benchmark with sbt")
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "launch"], HERE, env, deadline, sys.stderr)
        if code != 0:
            raise SystemExit(f"build failed (exit {code})")
        with open(key_file, "w") as f:
            f.write(key)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def run_child(cmd, cwd, env, deadline, out):
    """Runs `cmd` in its own process group; kills the group at `deadline`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"{cmd[0]} did not finish in time")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def generate(workload, seed, inputs):
    """Writes the workload's inputs for `seed` into `inputs`."""
    if workload == "ffi_export":
        gen_ffi.generate(inputs, seed, **gen_ffi.BATCH)
        gen_ffi.generate(os.path.join(inputs, "warmup"), seed + 1_000_003, **gen_ffi.WARMUP)
    else:
        gen_orders.write(inputs, seed, metrics.LAKE_SF)
        gen_lake.generate(os.path.join(inputs, "lake_ops.json"), seed,
                          max_key=int(1_500_000 * metrics.LAKE_SF) - 1)


def main(argv):
    # SIGTERM unwinds like an exception, so run_child kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.DRIVEN)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("run from the root of a checkout of the engine (build.sbt and src/main/scala/graft)")
        return 2
    started = time.monotonic()
    cp, jvm_opts = build(root, started + BUILD_TIMEOUT_S)

    run_started = time.monotonic()
    base = os.path.join(root, ".bench_build", "runs")
    shutil.rmtree(base, ignore_errors=True)
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}")
    inputs, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    generate(args.workload, args.seed, inputs)
    generated = time.monotonic()
    record_file = os.path.join(run_dir, "record.json")
    # jvm_opts are the engine's own (heap, GC, module opens), unchanged
    cmd = (["java"] + jvm_opts + ["-XX:-UsePerfData",
                                  f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  f"-Dderby.system.home={work}",
                                  f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
                                  "-cp", cp, "perfbench.Main", args.workload, inputs, work,
                                  str(args.seconds), args.trace, record_file])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        code = run_child(cmd, root, dict(os.environ), run_started + RUN_TIMEOUT_S, out)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        log(f"benchmark JVM exited with {code}")
        return 1
    jvm_done = time.monotonic()
    with open(record_file) as f:
        record = json.load(f)
    try:
        result, detail = metrics.summarize(record, traced=args.trace == "1")
    except ValueError as e:
        log(str(e))
        return 1
    detail["harness_s"] = {"generate": generated - run_started, "benchmark_jvm": jvm_done - generated,
                           "check": time.monotonic() - jvm_done}
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
