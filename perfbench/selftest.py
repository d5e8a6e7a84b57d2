#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine):

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes. It checks that

* the generators are pure functions of their seed (same seed, same bytes);
* the last stdout line of a real run parses on its own as the contract
  object, with exactly the metrics and units ``BENCHMARK.json`` names, for
  both ``--trace 0`` and ``--trace 1``;
* a deliberately wrong result (``--inject-wrong``) is counted as failed,
  on both workloads;
* in a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
  runner exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import datagen
import run

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def last_json_line(text):
    """The result object: the last line of `text` that parses as JSON with
    the contract's keys (log noise and prefixes before it are ignored)."""
    for line in reversed(text.strip().splitlines()):
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if {"correct", "attempted", "failed", "metrics"} <= set(obj):
            return obj
    return None


def bench(*args, cwd=run.ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout


def contract_line(stdout):
    """Strict parse: the LAST line alone must be the result object."""
    lines = stdout.strip().splitlines()
    assert lines, "no output"
    obj = json.loads(lines[-1])
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}, sorted(obj)
    assert isinstance(obj["attempted"], int) and obj["attempted"] >= 1
    assert isinstance(obj["failed"], int)
    return obj


def check_metrics(obj, section):
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = obj["metrics"]
    assert set(got) == set(want), (section, sorted(set(got) ^ set(want)))
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], (int, float)), (name, got[name])


def test_generators():
    with tempfile.TemporaryDirectory(dir=run.BUILD) as t:
        dirs = [os.path.join(t, n) for n in ("a", "b", "c")]
        for d in dirs:
            os.makedirs(d)
        datagen.write_pairs(dirs[0], 5)
        datagen.write_pairs(dirs[1], 5)
        datagen.write_pairs(dirs[2], 6)
        h = [datagen.content_hash(d) for d in dirs]
        assert h[0] == h[1] != h[2], h


def test_parser():
    noisy = '[info] {"metric":"total"}\nlog line\n{"correct": true, "attempted": 3, ' \
            '"failed": 0, "metrics": {}}\n'
    assert last_json_line(noisy)["attempted"] == 3
    assert last_json_line('[info] {"correct": true}\n[success] Total time') is None


def test_runs():
    code, out = bench("--workload", "topk-search", "--seed", "1", "--seconds", "2",
                      "--trace", "0")
    assert code == 0, out
    obj = contract_line(out)
    check_metrics(obj, "end_to_end")
    assert obj["correct"] and obj["failed"] == 0, obj

    code, out = bench("--workload", "topk-search", "--seed", "1", "--seconds", "2",
                      "--trace", "1")
    assert code == 0, out
    obj = contract_line(out)
    check_metrics(obj, "per_layer")
    assert obj["correct"] and obj["failed"] == 0, obj

    for w in ("topk-search", "pair-joins"):
        code, out = bench("--workload", w, "--seed", "1", "--seconds", "2", "--trace", "0",
                          "--inject-wrong")
        assert code == 0, out
        obj = contract_line(out)
        assert not obj["correct"] and obj["failed"] >= 1, (w, obj)


def test_bare_directory():
    with tempfile.TemporaryDirectory(dir=run.BUILD) as t:
        shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), t)
        shutil.copytree(run.HERE, os.path.join(t, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        code, out = bench("--workload", "topk-search", "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=t)
        assert code != 0 and last_json_line(out) is None, (code, out)


def main():
    os.makedirs(run.BUILD, exist_ok=True)
    for t in (test_generators, test_parser, test_bare_directory, test_runs):
        t()
        print(f"ok {t.__name__}", flush=True)


if __name__ == "__main__":
    main()
