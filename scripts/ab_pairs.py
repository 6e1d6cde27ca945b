#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark between two checkouts.

    python3 scripts/ab_pairs.py <parent-checkout> <change-checkout> \
        --workload thermostat_rate --pairs 10 --seed 101 [--json out.json]

Builds each checkout's benchmark (perfbench/build.py), then runs
`perfbench/run.py --trace 0` on both for `--pairs` pairs. Pair i uses seed
`--seed + i` on both sides and alternates which side runs first. For each
end-to-end metric of BENCHMARK.json it prints both sides' median and
quartiles, the pairs the change won (ties count for neither side) and whether
a gain may be claimed: the change wins at least nine tenths of all pairs run
and the medians differ, in the metric's better direction, by more than the
parent's interquartile range. It also prints whether the change's median is
worse than the parent's by more than the metric's `bound` in BENCHMARK.json,
taken as a fraction of the parent's median. Runs that fail or read incorrect
are reported and their pairs count as not won. For a batch workload it also
prints each query's median CPU per side (the query's mean over a run's timed
passes, from the run's `notes.query_cpu_ms`), so a batch result can name the
query that moved.

The script only runs the benchmark; it writes nothing into either checkout
beyond what perfbench/run.py itself leaves under .bench_build/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def build(checkout):
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout, check=True,
                   stdout=subprocess.DEVNULL)


def query_cpu(checkout, workload, seed):
    """Per-query CPU ms of one untraced run: the mean over its timed passes.
    notes.query_cpu_ms reads "q161:8210/1114/902 q23_:..." and each query's
    first value is its untimed warm pass."""
    path = os.path.join(checkout, ".bench_build", "perfbench", "results",
                        f"{workload}-s{seed}-t0.json")
    try:
        with open(path) as fh:
            notes = json.load(fh).get("notes", {})
    except (OSError, ValueError):
        return {}
    out = {}
    for item in notes.get("query_cpu_ms", "").split():
        name, _, vals = item.partition(":")
        timed = [float(v) for v in vals.split("/")[1:] if v]
        if timed:
            out[name] = statistics.mean(timed)
    return out


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"ok": False, "error": (p.stderr.strip().splitlines() or ["no output"])[-1]}
    r = json.loads(lines[-1])
    return {"ok": bool(r["correct"]), "failed": r["failed"], "attempted": r["attempted"],
            "metrics": {k: v["value"] for k, v in r["metrics"].items()},
            "query_cpu_ms": query_cpu(checkout, workload, seed)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--json", help="write every run's result here")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]

    for side in ("parent", "change"):
        build(sides[side])
    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(sides[side], a.workload, seed, seconds)
        pairs.append(pair)
        brief = {s: (pair[s].get("metrics") if pair[s]["ok"] else pair[s]) for s in ("parent", "change")}
        print(f"pair {i + 1}/{a.pairs} seed {seed} first {order[0]}: {json.dumps(brief)}",
              file=sys.stderr, flush=True)
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"workload": a.workload, "seconds": seconds, "pairs": pairs}, fh, indent=1)

    failed = {s: sum(1 for p in pairs if not p[s]["ok"]) for s in ("parent", "change")}
    print(f"{a.workload}: {len(pairs)} pairs, {seconds} s runs, failed or incorrect runs "
          f"parent {failed['parent']} change {failed['change']}")
    print(f"{'metric':<24}{'parent median [q1, q3]':>34}{'change median [q1, q3]':>34}"
          f"{'ratio':>8}{'won':>8}  claim; bound")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s]["metrics"][name] for p in pairs if p[s]["ok"]] for s in ("parent", "change")}
        if not vals["parent"] or not vals["change"]:
            print(f"{name:<24} no successful runs on one side")
            continue
        won = sum(1 for p in pairs if p["parent"]["ok"] and p["change"]["ok"] and
                  (p["change"]["metrics"][name] < p["parent"]["metrics"][name] if lower
                   else p["change"]["metrics"][name] > p["parent"]["metrics"][name]))
        med = {s: statistics.median(v) for s, v in vals.items()}
        q = {s: quartiles(v) for s, v in vals.items()}
        iqr = q["parent"][1] - q["parent"][0]
        gap = med["parent"] - med["change"] if lower else med["change"] - med["parent"]
        claim = won >= 0.9 * len(pairs) and gap > iqr
        worse = -gap / med["parent"]
        cell = {s: f"{med[s]:.4g} [{q[s][0]:.4g}, {q[s][1]:.4g}]" for s in med}
        print(f"{name:<24}{cell['parent']:>34}{cell['change']:>34}"
              f"{med['change'] / med['parent']:>8.3f}{won:>5}/{len(pairs):<2}  "
              f"{'holds' if claim else 'not met'} (gap {gap:.4g} vs parent IQR {iqr:.4g}); "
              f"{'WORSE than' if worse > m['bound'] else 'within'} bound {m['bound']:g} "
              f"(worse by {worse:+.3f})")

    queries = sorted({q for p in pairs for s in ("parent", "change") if p[s]["ok"]
                      for q in p[s].get("query_cpu_ms", {})})
    if queries:
        print(f"{'query cpu ms':<24}{'parent median':>16}{'change median':>16}{'ratio':>8}{'won':>8}")
    for q in queries:
        both = [p for p in pairs if all(p[s]["ok"] and q in p[s]["query_cpu_ms"] for s in ("parent", "change"))]
        if not both:
            continue
        med = {s: statistics.median(p[s]["query_cpu_ms"][q] for p in both) for s in ("parent", "change")}
        won = sum(1 for p in both if p["change"]["query_cpu_ms"][q] < p["parent"]["query_cpu_ms"][q])
        print(f"{q:<24}{med['parent']:>16.1f}{med['change']:>16.1f}"
              f"{med['change'] / med['parent']:>8.3f}{won:>5}/{len(both):<2}")


if __name__ == "__main__":
    main()
