#!/usr/bin/env python3
"""The repo benchmark: one closed-loop workload per run.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (perfbench/build.py), runs the
workload in one JVM on local[N] (N = min(4, nproc - 1)), checks every result
against the DuckDB oracle (tools/oracle_check.py) and prints as its last
line one JSON object: correct, attempted, failed and the metrics, the
end-to-end ones with --trace 0, the per-layer ones with --trace 1. A
traced run also writes its spans to .bench_build/traces/. See README.md.
"""
import argparse, json, os, shutil, subprocess, sys, time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

DATA = os.path.join(HERE, "fixtures", "sf0.01")
WORKLOADS = ("stream-replay", "batch-mix")
XMX = "3g"
DEADLINE_S = 170  # a run, both JVMs of a traced one included

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "wall_s": "s", "batch_p50_ms": "ms",
    "batch_p90_ms": "ms", "events_per_s": "1/s", "heap_mb": "MB",
}
# modules some workload calls (perfbench/src/Workloads.scala)
MODULES = ("Aggregates", "Joins", "SortsSetOps", "SourcesSinks", "Graph",
           "Bpe", "Streams")
PER_LAYER = dict(
    [(f"stream.{k}", u) for k, u in (
        ("batches", "count"), ("input_rows", "count"),
        ("empty_batch_frac", "ratio"), ("trigger_ms", "ms"),
        ("addBatch_ms", "ms"), ("queryPlanning_ms", "ms"),
        ("walCommit_ms", "ms"), ("commitOffsets_ms", "ms"),
        ("latestOffset_ms", "ms"), ("state_rows", "count"),
        ("state_mem_bytes", "bytes"), ("state_commit_ms", "ms"),
        ("rows_dropped_late", "count"), ("core_scaling", "ratio"))]
    + [("replayer.ensure_ms", "ms")]
    + [(f"{m}.{k}", "ms") for m in MODULES for k in ("build_ms", "exec_ms")]
    + [(f"catalyst.{p}_ms", "ms") for p in ("analysis", "optimization", "planning")]
    + [("codegen.compiles", "count"), ("codegen.compile_ms", "ms")]
    + [(f"spark.{k}", u) for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("failed_tasks", "count"), ("task_run_ms", "ms"),
        ("sched_wait_ms", "ms"), ("task_cpu_ms", "ms"), ("gc_ms", "ms"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
        ("output_bytes", "bytes"))]
    + [(f"session.{k}", "count") for k in (
        "persisted_rdds_delta", "active_streams", "temp_views_delta")]
    + [("host.canary_ms", "ms")]
    + [(f"self.{k}_ms", "ms") for k in (
        "pass", "query", "build", "exec", "batch", "job", "catalyst")]
    + [("trace_overhead", "ratio")]
)

OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm(cp, mode, workload, seed, seconds, cpus, work, span_file, deadline):
    """Run one JVM of the benchmark; return its parsed result line."""
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    cmd = ["java", *OPENS, f"-Xmx{XMX}",
           f"-Djava.io.tmpdir={work}",
           f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", mode, workload, str(seed),
           str(seconds), DATA, work, span_file]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log_path = os.path.join(work, f"jvm-{mode}.log")
    with open(log_path, "w") as fh:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=fh, env=env,
                               text=True, cwd=work,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: {mode} JVM passed the {DEADLINE_S} s deadline")
    lines = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"perfbench: {mode} JVM failed ({p.returncode})")
    return json.loads(lines[-1][len("PERFBENCH "):])


def oracle_failures(work, deadline):
    """Names of oracle-paired results that do not match the oracle."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        DATA, os.path.join(work, "results")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(1.0, deadline - time.monotonic()))
    bad = []
    for line in r.stdout.splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and not line.startswith("--") and \
                parts[1] != "OK" and not parts[1].startswith("NO-ORACLE"):
            bad.append(parts[0])
            log(f"oracle: {line[:300]}")
    if r.returncode != 0 and not bad:
        log(r.stdout[-2000:])
        bad.append("<oracle_check>")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "tools", "oracle_check.py")):
        sys.exit("perfbench: tools/oracle_check.py not found")
    cp = build.build()
    deadline = time.monotonic() + DEADLINE_S
    # one core stays free for the driver thread, the JIT and the GC
    cpus = max(1, min(4, (os.cpu_count() or 1) - 1))
    work = os.path.join(ROOT, ".bench_build", "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    span_file = os.path.join(ROOT, ".bench_build", "traces",
                             f"{a.workload}-seed{a.seed}.json")
    try:
        mode = "traced" if a.trace else "timed"
        res = jvm(cp, mode, a.workload, a.seed, a.seconds, cpus, work, span_file,
                  deadline)
        bad = oracle_failures(work, deadline)
        if a.trace:
            # single-threaded baseline of the same stream workload
            scaling = 0.0
            if a.workload == "stream-replay":
                one = jvm(cp, "scaling", a.workload, a.seed, 0, 1,
                          os.path.join(work, "scaling"), span_file, deadline)
                scaling = one["end_to_end"]["wall_s"] / res["end_to_end"]["wall_s"]
            res["per_layer"]["stream.core_scaling"] = scaling
            log(f"spans: {span_file}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, err in res["errors"].items():
        log(f"error: {name}: {err}")
    failed = res["failed_runs"] + len(bad)
    log(f"env {res['env']}, warm passes {res['warm_passes']}, "
        f"epochs {res['epochs']}, attempted {res['attempted']}, failed {failed}")
    log(f"setups_s {res['setups_s']} passes_s {res['passes_s']}")
    log(f"query_ms {res['query_ms']}")
    src, units = (res["per_layer"], PER_LAYER) if a.trace else (res["end_to_end"], END_TO_END)
    unknown = set(src) - set(units)
    if unknown:
        sys.exit(f"perfbench: metrics missing from the metric table: {sorted(unknown)}")
    metrics = {k: {"value": float(src.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
