#!/usr/bin/env python3
"""Benchmark runner for the graft trajectory engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
source with sbt (first run only; the build is reused while no source
changes), generates the inputs from the seed, runs one JVM for the
workload on ``local[<all cores but one>]`` and prints, as its last line,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` the
per-layer ones and writes a span file. Every run also leaves its full
result (all metrics with units, errors, set-up parts, host calibration)
in ``.bench_build/results/``.

Workloads: ``topk-search``, ``pair-joins`` (see ``perfbench/README.md``).
Everything the run writes stays under ``.bench_build/`` in the checkout;
each run gets its own emptied index dir and ``java.io.tmpdir``, removed
when it ends.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import datagen  # noqa: E402

WORKLOADS = ("topk-search", "pair-joins")
BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the same sources were built."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == want:
                return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    # every JVM sbt starts keeps its scratch files in the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    log("building engine and harness with sbt")
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(p, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {code}), see .bench_build/build.log", 3)
    log(f"build took {time.time() - t:.1f}s")
    with open(stamp, "w") as f:
        f.write(want)
    return open(cp_file).read().strip()


def wait(p, timeout):
    """Wait for `p`; on timeout kill its whole process group and reap it."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def dataset(name, writer, seed):
    """Generate a data set once per (generator version, seed); reuse after."""
    d = os.path.join(BUILD, "data", f"{name}-v{datagen.VERSION}-s{seed}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        writer(tmp, seed)
        os.rename(tmp, d)
    return d


def oracle(data):
    """The check oracle's trajectory file of a data set, written once."""
    path = f"{data}.oracle.tsv"
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        datagen.write_oracle(data, tmp)
        os.rename(tmp, path)
    return path


def jvm_cores():
    """All cores but one. The JVM sizes Spark's task slots, its GC and its
    JIT compiler threads from this count; the spare core keeps the driver
    thread, the JIT and the GC from queueing behind busy task threads, and
    it absorbs load from outside the run (see README, run-to-run spread)."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def java_cmd(cp, tmpdir, main_class):
    """The JVM command line: Spark's JDK 17 module opens, a private tmpdir."""
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
             f"-XX:ActiveProcessorCount={jvm_cores()}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main_class])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one op's result before checking (self-test)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) next to perfbench/; "
             "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    started = time.time()

    base = dataset("base", lambda d, _: datagen.write_base(d), datagen.BASE_SEED)
    data = base
    if a.workload == "pair-joins":
        data = dataset("pairs", datagen.write_pairs, a.seed)
    data_hash = datagen.content_hash(data)
    log(f"{a.workload} seed={a.seed}: data {os.path.relpath(data, ROOT)} "
        f"content hash {data_hash}")

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("index", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    out = os.path.join(run_dir, "result.json")
    spans = os.path.join(run_dir, "spans.jsonl")
    cmd = java_cmd(cp, os.path.join(run_dir, "tmp"), "perfbench.Main") + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--oracle", oracle(data), "--base", base,
        "--index-dir", os.path.join(run_dir, "index"),
        "--golden", os.path.join(HERE, "golden", "pipeline_queries.json"),
        "--out", out, "--spans", spans,
        "--inject-wrong", "1" if a.inject_wrong else "0"]
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            # Spark's scratch space stays in the run dir even when the
            # environment points SPARK_LOCAL_DIRS elsewhere
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
            p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog,
                                 stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                 start_new_session=True)
            code = wait(p, max(10, RUN_BUDGET_S - (time.time() - started)))
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(results, f"{tag}.log"))
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM failed (exit {code}), see .bench_build/results/{tag}.log", 4)
        with open(out) as f:
            res = json.load(f)
        res["data_content_hash"] = data_hash
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump(res, f, indent=1)
        if a.trace and os.path.exists(spans):
            shutil.copy(spans, os.path.join(results, f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in res["errors"]:
        log(f"check failed: {e}")
    section = "per_layer" if a.trace else "end_to_end"
    names = [m["name"] for m in spec[section]]
    have = res[section]
    missing = [n for n in names if n not in have]
    if missing:
        fail(f"result lacks metrics {missing}", 5)
    # every metric the run measured, with its unit, before the contract line
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
                      "latency_tail_percentile": res["latency_tail_percentile"],
                      "latency_samples": res["latency_samples"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {n: have[n] for n in names}}))


if __name__ == "__main__":
    main()
