#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness from
source (first run only; later runs reuse the build while no source changed),
generates the workload's inputs from the seed, runs the harness JVM, prints
every metric by name with its unit, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics (0 where the workload does not exercise the layer).

    python3 perfbench/run.py --workload <name> --pin

re-records the pinned outputs of a workload into perfbench/pins.json
(nightly_build: the mcaid chain's verdict; corpus_prep: the cohort API's
responses, which its traced run checks). See perfbench/README.md for the
workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# The fixed input of the nightly build and the cohort API: the repository's
# seed-42 test tables at sf 0.01, copied unchanged (README.md lists hashes).
TABLES = os.path.join(HERE, "data", "sf0.01")
CORPUS_BASE_DOCS = 2000
CORPUS_FILES = max(8, os.cpu_count() or 1)
CORPUS_PROBES = 200
REQUEST_STREAM = 5000  # cohort requests drawn per run (more than any run sends)
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170    # one run, build excluded
BUILD_TIMEOUT_S = 850
SETUP_REPEATS = 3      # input generation is repeated; setup_s takes its median
# nightly_build is a fresh, short batch JVM whose time is Janino codegen and
# Catalyst planning; C2 compiler threads competing for the same 4 cores add
# ~40% to it (66 s -> 48 s for the mcaid chain at C1 only, measured on a
# 4-core host), so that workload runs at C1 only. Its six stage threads
# allocate fast; with G1's default young generation (up to 60% of the heap)
# it collects so rarely that the highest post-GC reading depends on when
# collections fall, and peak_heap_mb spread 0.12-0.13 over ten runs. A
# fixed 256 MB young generation samples the live set often (spread 0.04).
# At C1 only the JVM reserves a 48 MB code cache (240 MB otherwise), and
# the chain's ~30,000 compiled methods need ~55 MB: a full cache stops the
# JIT mid-chain and can kill a thread with "VirtualMachineError: Out of
# space in CodeCache for adapters", which loses a broadcast block and
# hangs the chain. Hence the larger cache.
JVM_OPTS = {"nightly_build": ["-XX:TieredStopAtLevel=1", "-Xmn256m",
                              "-XX:ReservedCodeCacheSize=256m"]}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout
    and wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except BaseException as e:          # timeout, or this run being stopped
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            return None
        raise
    return p.returncode


def build(root, build_dir):
    """Build program + harness with sbt once per source state; return the
    runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                       env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (rc={rc}); log in {log}", 1)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def generate(workload, seed, inputs, work):
    """Generate the workload's seeded inputs; return the seconds it took.
    nightly_build reads only the fixed tables, so it generates nothing."""
    t0 = time.perf_counter()
    shutil.rmtree(inputs, ignore_errors=True)
    os.makedirs(inputs)
    if workload == "corpus_prep":
        gen.corpus(inputs, seed, CORPUS_BASE_DOCS, CORPUS_FILES, CORPUS_PROBES)
        # the cohort API's request stream (driven by the traced run)
        with open(os.path.join(work, "pool.json"), "w") as fh:
            json.dump(gen.param_pool(), fh)
        with open(os.path.join(work, "requests.json"), "w") as fh:
            json.dump(gen.requests(seed, REQUEST_STREAM), fh)
    return time.perf_counter() - t0


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    # a stopped run still stops its JVM (run_group's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("the program's source (build.sbt, src/main/scala/graft) is not in "
            "the current directory; run from the root of a checkout")

    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp = build(root, build_dir)

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")
    gen_s = statistics.median(generate(a.workload, a.seed, inputs, work)
                              for _ in range(1 if a.pin else SETUP_REPEATS))

    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"] + JVM_OPTS.get(a.workload, [])
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--inputs", inputs, "--tables", TABLES, "--work", work] + (["--pin"] if a.pin else []))
    log = os.path.join(work, "jvm.log")
    # Spark lets SPARK_LOCAL_DIRS override spark.local.dir; the harness keeps
    # its shuffle files inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "w") as out:
        rc = run_group(cmd, 600 if a.pin else RUN_TIMEOUT_S, cwd=root, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    res_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die("harness JVM " + ("timed out" if rc is None else f"exited {rc}"), 1)
    with open(res_file) as fh:
        res = json.load(fh)

    if a.pin:
        pins_path = os.path.join(HERE, "pins.json")
        pins = json.load(open(pins_path)) if os.path.exists(pins_path) else {}
        with open(os.path.join(work, "pins_seen.json")) as fh:
            pins.update(json.load(fh))
        with open(pins_path, "w") as fh:
            json.dump(dict(sorted(pins.items())), fh, indent=1)
            fh.write("\n")
        print(f"pinned {a.workload}; failures: {res['failures']}")
        return

    e2e = dict(res["e2e"])
    if "setup_jvm_s" in e2e:
        e2e["setup_s"] = gen_s + e2e["setup_jvm_s"]
    attempted, failed = res["attempted"], res["failed"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.trace:
        values = {m["name"]: res["layers"].get(m["name"], 0.0) for m in wanted}
    else:
        missing = [m["name"] for m in wanted if e2e.get(m["name"]) is None]
        if missing:
            print(f"failures: {res['failures']}", file=sys.stderr)
            die(f"no value for {', '.join(missing)}: no operation completed", 1)
        values = {m["name"]: e2e[m["name"]] for m in wanted}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    print(f"workload {a.workload}  seed {a.seed}  seconds {fmt(a.seconds)}  trace {a.trace}")
    for k, v in res["info"].items():
        print(f"  info {k} = {v}")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    for name, m in metrics.items():
        print(f"  {name} = {fmt(m['value'])} {m['unit']}")
    if a.trace:
        for name, v in res["layers"].items():
            if name not in metrics:
                print(f"  {name} = {fmt(v)}")
    else:
        for name, m in res["named"].items():
            print(f"  {name} = {fmt(m['value'])} {m['unit']}")
        print(f"  fail_frac = {fmt(failed / max(1, attempted))} ratio "
              f"({failed} of {attempted} operations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
