#!/usr/bin/env python3
"""Runs the benchmark on several seeds per workload, in sets, and reports
each end-to-end metric's median and spread against its bound.

    python3 labelbench/steadiness.py --sets 2 --seeds 10 --first-seed 1000 \
        --out labelbench/evidence/steadiness.json --md labelbench/evidence/README.md
    python3 labelbench/steadiness.py --sets 1 --seeds 5 --workloads backfill

Set k (from 0) runs seeds first-seed + 100 k, first-seed + 100 k + 1, ...
The spread is the distance between the first and third quartiles of a
set's values (statistics.quantiles, n=4) as a share of their median. A set
passes when every spread, setup_s's included, is within its bound; a later
set passes when each median differs from the first set's, in either
direction, by no more than the bound. Every run's record is kept, with its
warm-up and the share of CPU time the hypervisor stole.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    t = time.time()
    res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"run {workload} seed {seed} failed:\n{res.stderr[-2000:]}")
    info = json.loads(lines[-2].split(" ", 1)[1])
    record = json.loads(lines[-1])
    return {"seed": seed, "wall_s": time.time() - t, "record": record, "info": info}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse(metric, first, second):
    """How much worse the second median is than the first, as a share;
    negative when it is better."""
    if metric["better"] == "lower":
        return (second - first) / first
    return (first - second) / first


def markdown(report, metrics):
    out = ["# Steadiness evidence", "",
           f"Sets of runs per workload, one set after the other, on the same code, `--seconds "
           f"{report['run_seconds']}`, on a 4-vCPU host shared with other tenants. Each run is a fresh JVM",
           "with its own seed. Spread is (Q3 − Q1) / median over a set's values (`statistics.quantiles(n=4)`);",
           "a later set's median is compared with the first set's, in both directions. Every run's record,",
           "warm-up and stolen CPU share are in `steadiness.json`. Written by `labelbench/steadiness.py`.", ""]
    for w, sets in report["workloads"].items():
        head = "| metric | bound |" + "".join(f" set {k + 1} median | set {k + 1} spread |" for k in range(len(sets)))
        head += "".join(f" set {k + 1} vs set 1 |" for k in range(1, len(sets)))
        out += [f"## {w}", "", head, "|" + "---|" * (2 + 2 * len(sets) + len(sets) - 1)]
        for m in metrics:
            row = [f"`{m['name']}`", str(m["bound"])]
            row += [f"{s['summary'][m['name']][x]:{f}}" for s in sets for x, f in (("median", ".4g"), ("spread", ".3f"))]
            row += [f"{s['summary'][m['name']]['worse_than_set1']:+.3f}" for s in sets[1:]]
            out.append("| " + " | ".join(row) + " |")
        out += ["", "| set | seed | correct | failed/attempted | steal | pre-warm ops | warm-up ops, s, plateau | measured op ms |",
                "|---|---|---|---|---|---|---|---|"]
        for k, s in enumerate(sets):
            for r in s["runs"]:
                rec, inf = r["record"], r["info"]
                out.append(f"| {k + 1} | {r['seed']} | {rec['correct']} | {rec['failed']}/{rec['attempted']} | "
                           f"{inf.get('steal_frac', 0):.3f} | {inf['prewarm_ops']} | {inf['warmup_ops']}, "
                           f"{inf['warmup_s']:.1f}, {inf['warmup_plateau']} | "
                           + ", ".join(str(round(x)) for x in inf["op_ms"]) + " |")
        out.append("")
    out.append(f"Result of the checks above: {'PASS' if report['pass'] else 'FAIL'}.")
    return "\n".join(out) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--out", help="JSON report")
    ap.add_argument("--md", help="markdown summary")
    args = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    for w in workloads:
        sets = []
        for k in range(args.sets):
            runs = []
            for i in range(args.seeds):
                seed = args.first_seed + 100 * k + i
                r = one_run(w, seed, bench["run_seconds"])
                print(f"{w} set {k + 1} seed {seed}: wall {r['wall_s']:.1f} s, steal "
                      f"{r['info'].get('steal_frac', 0):.3f}, correct {r['record']['correct']}, "
                      + ", ".join(f"{m['name']} {r['record']['metrics'][m['name']]['value']:.4g}" for m in metrics),
                      flush=True)
                ok &= r["record"]["correct"] and r["record"]["failed"] == 0
                runs.append(r)
            summary = {}
            for m in metrics:
                vals = [r["record"]["metrics"][m["name"]]["value"] for r in runs]
                s = {"median": statistics.median(vals), "spread": spread(vals), "bound": m["bound"]}
                s["spread_ok"] = s["spread"] <= m["bound"]
                if sets:
                    s["worse_than_set1"] = worse(m, sets[0]["summary"][m["name"]]["median"], s["median"])
                    s["median_ok"] = abs(s["worse_than_set1"]) <= m["bound"]
                ok &= s["spread_ok"] and s.get("median_ok", True)
                summary[m["name"]] = s
                print(f"  {w} set {k + 1} {m['name']}: median {s['median']:.4g} spread {s['spread']:.3f} "
                      f"(bound {m['bound']})" + (f", worse than set 1 by {s['worse_than_set1']:+.3f}"
                                                 if "worse_than_set1" in s else ""), flush=True)
            sets.append({"runs": runs, "summary": summary})
        report["workloads"][w] = sets
    report["pass"] = ok
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    if args.md:
        with open(args.md, "w") as fh:
            fh.write(markdown(report, metrics))
    print("PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
