#!/usr/bin/env python3
"""Steadiness check for the pipeline benchmark.

    python3 pipebench/steady.py [--workloads a,b] [--seeds 10] [--sets 2]
                                [--gap 60] [--out report.json]

Runs `--sets` sets, one after the other and `--gap` seconds apart, never
interleaved. A set runs every workload once per seed (seeds 1..N, a
different seed each run). For every end-to-end metric it reports, per
set, the median, the quartiles (Python's statistics.quantiles, n=4) and
the spread (q3 - q1) / median, and between the first and each later set
how much worse the later median is, all against the metric's bound in
BENCHMARK.json. It also compares the share of failed operations between
sets, which must be identical. Exit status 0 when every check holds:
spreads within their bounds, later medians not worse than the first by
more than the bound, equal failed shares.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, "pipebench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        return {"error": p.returncode, "wall_s": wall}
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r["wall_s"] = wall
    return r


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def worse_by(first, later, better):
    if first == 0:
        return 0.0
    return (later - first) / first if better == "lower" else (first - later) / first


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--gap", type=int, default=60)
    ap.add_argument("--out")
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    seeds = list(range(1, a.seeds + 1))

    sets = []
    for s in range(a.sets):
        if s:
            time.sleep(a.gap)
        runs = {w: [] for w in workloads}
        for w in workloads:
            for seed in seeds:
                r = run_once(w, seed, spec["run_seconds"])
                runs[w].append(r)
                print(f"set {s + 1} {w} seed {seed}: " +
                      ("FAILED" if "error" in r else
                       f"correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                       f"wall={r['wall_s']:.1f}s"), flush=True)
        sets.append(runs)

    ok = True
    report = {}
    for w in workloads:
        report[w] = {}
        for name, m in metrics.items():
            per_set = []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs[w] if "metrics" in r]
                per_set.append(summarize(vals) if len(vals) >= 2 else None)
            if any(p is None for p in per_set):
                ok = False
                continue
            entry = {"bound": m["bound"], "sets": per_set}
            for p in per_set:
                if p["spread"] > m["bound"]:
                    ok = False
            entry["later_worse_by"] = [worse_by(per_set[0]["median"], p["median"], m["better"])
                                       for p in per_set[1:]]
            if any(x > m["bound"] for x in entry["later_worse_by"]):
                ok = False
            report[w][name] = entry
        shares = [[(r["failed"], r["attempted"]) for r in runs[w] if "failed" in r]
                  for runs in sets]
        fail_share = [sum(f for f, _ in s) / max(sum(t for _, t in s), 1) for s in shares]
        report[w]["failed_share"] = fail_share
        if len(set(fail_share)) > 1 or any("error" in r or not r["correct"]
                                           for runs in sets for r in runs[w]):
            ok = False

    print()
    hdr = f"{'workload':20s} {'metric':26s} {'bound':>6s} " + " ".join(
        f"{'median' + str(i + 1):>12s} {'spread' + str(i + 1):>8s}" for i in range(len(sets))) + \
        f" {'worse':>7s}"
    print(hdr)
    for w in workloads:
        for name in metrics:
            e = report[w].get(name)
            if not e:
                continue
            cols = " ".join(f"{p['median']:12.4f} {p['spread']:8.4f}" for p in e["sets"])
            worse = max(e["later_worse_by"]) if e["later_worse_by"] else 0.0
            flag = ""
            if any(p["spread"] > e["bound"] for p in e["sets"]) or worse > e["bound"]:
                flag = "  <-- over bound"
            elif any(p["spread"] > e["bound"] / 3 for p in e["sets"]):
                flag = "  (spread above a third of the bound)"
            print(f"{w:20s} {name:26s} {e['bound']:6.3f} {cols} {worse:7.4f}{flag}")
        print(f"{w:20s} {'failed share':26s} {'':6s} {report[w]['failed_share']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seeds": seeds, "report": report,
                       "runs": [{w: runs[w] for w in workloads} for runs in sets]}, f, indent=1)
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
