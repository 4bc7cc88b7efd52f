#!/usr/bin/env python3
"""Self-test of the benchmark.

Runs every workload once untraced and once traced with --seconds 0 (the
fewest passes a run makes) and checks that:
  - the last stdout line is one JSON object with exactly the keys
    correct, attempted, failed and metrics;
  - it names every metric BENCHMARK.json lists (end-to-end metrics when
    untraced, per-layer ones when traced) with the same unit, and no other;
  - correct is true and failed is 0, i.e. every result matched the oracle;
  - every end-to-end value is a positive number;
  - a traced run wrote its span file with self times per layer.
It also checks that run.py fails, without printing a result, in a copy
holding only BENCHMARK.json and perfbench/ (no program to build).

Usage (from the repo root): python3 perfbench/selftest.py [workload...]
"""
import json, math, os, shutil, subprocess, sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def result(cmd, cwd):
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def check_run(spec, workload, trace):
    rc, res = result([sys.executable, "perfbench/run.py", "--workload", workload,
                      "--seed", "1", "--seconds", "0", "--trace", str(trace)], ROOT)
    where = f"{workload} trace={trace}"
    assert rc == 0, f"{where}: exit {rc}"
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {set(res)}"
    assert res["correct"] is True and res["failed"] == 0, f"{where}: {res['failed']} failed"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, where
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{where}: metrics differ: {set(got) ^ set(want)}"
    for k, v in res["metrics"].items():
        assert math.isfinite(v["value"]), f"{where}: {k} = {v['value']}"
        assert trace or v["value"] > 0, f"{where}: {k} = {v['value']}"
    if trace:
        spans = json.load(open(os.path.join(
            ROOT, ".bench_build", "traces", f"{workload}-seed1.json")))
        assert spans["spans"] and spans["self_ms"], f"{where}: empty span file"
    print(f"ok  {where}", flush=True)


def check_bare_copy(spec):
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = result(spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                        "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and res is None, f"bare copy: exit {rc}, result {res}"
    print("ok  bare copy fails without a result", flush=True)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    assert sorted(names) == sorted(run.WORKLOADS), names
    check_bare_copy(spec)
    for w in sys.argv[1:] or names:
        for trace in (0, 1):
            check_run(spec, w, trace)


if __name__ == "__main__":
    main()
