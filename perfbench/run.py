#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source when they changed
(perfbench/build.py), runs one workload in one Spark JVM (local[n], n <= 4),
checks every output against its oracle, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.

Everything the run leaves behind goes to .bench_build/perfbench/:
  logs/<workload>-s<seed>-t<trace>.log     the JVM's log
  results/<workload>-s<seed>-t<trace>.json every metric, the oracle notes and
                                           the environment stamp
  spans/<workload>-s<seed>.json            traced runs: spans and the tracing
                                           overhead against the untraced run
                                           of the same workload, seed and build
"""
import argparse
import glob
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

OUT = build.OUT
TIME_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def steal_s():
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return 0.0


def content_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:32]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="batch workloads: rewrite the expected results from this run")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    w = workloads[a.workload]
    metric_defs = bench["per_layer" if a.trace else "end_to_end"]

    classes = build.build()
    t_start = time.time()
    cpus = min(4, os.cpu_count() or 1)
    work = os.path.join(OUT, f"run-{os.getpid()}")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    for d in ("logs", "results", "spans"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_tmp = os.path.join(work, "result.json")
    spans = os.path.join(OUT, "spans", f"{a.workload}-s{a.seed}.json")

    kv = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
          "cpus": cpus, "work": work, "out": result_tmp, "spans": spans}
    data_files = []
    if "queries" in w:
        dirs = sorted({d for d in w["queries"].values()})
        for d in dirs:
            found = glob.glob(os.path.join(ROOT, d, "*.parquet"))
            if not found:
                raise SystemExit(f"perfbench: no input tables under {d}")
            data_files += found
        kv.update(queries=",".join(f"{q}@{os.path.join(ROOT, d)}" for q, d in w["queries"].items()),
                  expected=os.path.join(ROOT, w["expected"]))
        if a.record:
            kv["record"] = os.path.join(ROOT, w["expected"])
    else:
        kv.update(w)

    jars = sorted(glob.glob(os.path.join(build.spark_jars(), "*.jar")))
    with open(build.STAMP) as fh:
        build_stamp = fh.read().strip()[:16]
    # CompileThresholdScaling: a run is far too short for the JIT to reach a
    # steady state at the default thresholds (the CPU time of a pass over the
    # batch list still fell after eight passes, and how far it had fallen
    # depended on host load); at a tenth of them the hot paths reach the
    # optimising compiler in fewer passes.
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:CompileThresholdScaling=0.1", "-Xlog:disable",
            "-Xlog:all=error:stderr",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.codegen.cache.maxEntries=4096",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS]
           + ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main"]
           + [f"{k}={v}" for k, v in kv.items()])

    steal0 = steal_s()
    log_path = os.path.join(OUT, "logs", tag + ".log")
    proc = None

    def stop_child(*_):
        if proc is not None and proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    try:
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise SystemExit(f"perfbench: {a.workload} exceeded its time limit; see {log_path}")
        if rc != 0 or not os.path.exists(result_tmp):
            raise SystemExit(f"perfbench: {a.workload} failed (exit {rc}); see {log_path}")
        with open(result_tmp) as fh:
            r = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    source = r["layers"] if a.trace else r["e2e"]
    missing = [m["name"] for m in metric_defs if m["name"] not in source]
    if missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in metric_defs}

    env = dict(r["env"])
    env.update(cpus=cpus, host_cpus=os.cpu_count(), seed=a.seed, workload=a.workload,
               trace=a.trace, seconds=a.seconds, build=build_stamp,
               host_steal_s=round(steal_s() - steal0, 2),
               data=sorted(set(w["queries"].values())) if "queries" in w else None, data_hash=content_hash(data_files) if data_files else None,
               wall_s=round(time.time() - t_start, 2))
    record = {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
              "e2e": r["e2e"], "layers": r["layers"], "notes": r["notes"], "env": env}
    if a.trace:
        # against the untraced run of the same workload and seed on this build
        untraced = os.path.join(OUT, "results", f"{a.workload}-s{a.seed}-t0.json")
        base = None
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
        overhead = None
        if base is not None and base["env"].get("build") == build_stamp:
            overhead = {k: round(r["e2e"][k] / v - 1.0, 4) for k, v in base["e2e"].items()
                        if k in r["e2e"] and v}
            overhead["against"] = os.path.basename(untraced)
        record["tracing_overhead"] = overhead
        if os.path.exists(spans):
            with open(spans) as fh:
                doc = json.load(fh)
            doc.update(env=env, tracing_overhead=overhead, end_to_end_traced=r["e2e"])
            with open(spans, "w") as fh:
                json.dump(doc, fh)
        print(f"perfbench: spans in {os.path.relpath(spans, ROOT)}; tracing overhead "
              f"(traced / untraced - 1): {json.dumps(overhead)}", file=sys.stderr)
    with open(os.path.join(OUT, "results", tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"perfbench: env {json.dumps(env)}", file=sys.stderr)
    print(f"perfbench: notes {json.dumps(r['notes'])}", file=sys.stderr)
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
