#!/usr/bin/env python3
"""Regenerate ``golden/pipeline_queries.json``: the row hashes the benchmark
compares the pipeline queries' results with.

    python3 perfbench/golden.py

Run from the root of a checkout whose query results are known good. For
every query in ``PipelineQueries.Names`` it runs the engine on the base
data set at 4 and at 7 shuffle partitions and requires the same hash, then
compares every oracle-backed query with DuckDB through ``tools/check.py``
(the repository's correctness recipe). It writes the file only if all of
that passes.
"""
import json
import os
import shutil
import subprocess
import sys

import run
import datagen

PARTITIONS = (4, 7)


def main():
    cp = run.build()
    base = run.dataset("base", lambda d, _: datagen.write_base(d), datagen.BASE_SEED)
    work = os.path.join(run.BUILD, "golden")
    shutil.rmtree(work, ignore_errors=True)
    hashes = {}
    for parts in PARTITIONS:
        d = os.path.join(work, f"p{parts}")
        os.makedirs(os.path.join(d, "tmp"))
        out = os.path.join(d, "hashes.json")
        cmd = run.java_cmd(cp, os.path.join(d, "tmp"), "perfbench.GoldenMain") + [
            "--base", base, "--partitions", str(parts),
            "--index-dir", os.path.join(d, "index"),
            "--dump", os.path.join(d, "dump"), "--out", out]
        with open(os.path.join(d, "jvm.log"), "w") as log:
            subprocess.run(cmd, check=True, stdout=log, stderr=subprocess.STDOUT)
        with open(out) as f:
            hashes[parts] = json.load(f)
    first = hashes[PARTITIONS[0]]
    unstable = [q for q in first
                if any(hashes[p][q]["hash"] != first[q]["hash"] for p in PARTITIONS)]
    if unstable:
        sys.exit(f"results differ across shuffle partitions: {unstable}")

    oracle = [q for q, v in first.items() if v["oracle"]]
    check = os.path.join(run.ROOT, "tools", "check.py")
    dump = os.path.join(work, f"p{PARTITIONS[0]}", "dump")
    res = subprocess.run([sys.executable, check, base, dump] + oracle,
                         capture_output=True, text=True)
    print(res.stdout, end="")
    passed = {line.split()[1] for line in res.stdout.splitlines()
              if line.startswith("PASS ")}
    if res.returncode != 0 or set(oracle) - passed:
        sys.exit(f"DuckDB oracle mismatch: {sorted(set(oracle) - passed)}")

    doc = {
        "data": {"generator_version": datagen.VERSION, "seed": datagen.BASE_SEED,
                 "content_hash": datagen.content_hash(base)},
        "queries": {q: {"hash": v["hash"], "rows": v["rows"],
                        "validated": ("DuckDB oracle match; " if v["oracle"] else
                                      "no oracle; ") + "same hash at " +
                                     " and ".join(map(str, PARTITIONS)) + " partitions"}
                    for q, v in sorted(first.items())}}
    path = os.path.join(run.HERE, "golden", "pipeline_queries.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {os.path.relpath(path, run.ROOT)}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
