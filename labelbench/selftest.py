#!/usr/bin/env python3
"""Self-test of the benchmark, at a tiny scale (about two minutes).

    python3 labelbench/selftest.py

1. Plants defects in real outputs and asserts the checks reject each one:
   a backfill store with one label dropped or duplicated, an incremental
   store that lost one update, and a screening answer with one label wrong,
   missing or extra.
2. Runs every workload of BENCHMARK.json untraced and traced, and asserts
   that each prints exactly the record keys of the contract and exactly the
   metric names and units BENCHMARK.json lists, with every operation correct.

Exits 1 on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402


def fail(msg):
    print(f"selftest: FAIL: {msg}")
    sys.exit(1)


def main():
    classpath, jsa = build.build()
    work = os.path.join(build.OUT, "selftest")
    base = build.jvm_base(classpath)
    res = subprocess.run(base[:1] + [f"-XX:SharedArchiveFile={jsa}", f"-Djava.io.tmpdir={build.OUT}"]
                         + base[1:] + ["labelbench.SelfTest", work],
                         cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    shutil.rmtree(work, ignore_errors=True)
    print(res.stdout, end="")
    if res.returncode != 0:
        fail("a planted defect was accepted or a real output rejected")

    bench = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    expected = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.05",
                                  "--setup-reps", "1", "--warmup-ops", "1"],
                                 cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if out.returncode != 0:
                fail(f"{w} --trace {trace} exited {out.returncode}")
            record = json.loads(out.stdout.strip().splitlines()[-1])
            if set(record) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{w} --trace {trace} record keys {sorted(record)}")
            if not record["correct"] or record["failed"] != 0 or record["attempted"] < 1:
                fail(f"{w} --trace {trace}: correct {record['correct']}, failed {record['failed']}")
            got = {k: v["unit"] for k, v in record["metrics"].items()}
            if got != expected[trace]:
                fail(f"{w} --trace {trace} metrics differ from BENCHMARK.json: "
                     f"missing {sorted(set(expected[trace]) - set(got))}, extra {sorted(set(got) - set(expected[trace]))}, "
                     f"units {[(k, got[k], expected[trace][k]) for k in got if k in expected[trace] and got[k] != expected[trace][k]]}")
            print(f"selftest: ok, {w} --trace {trace} prints the {len(got)} metrics of BENCHMARK.json")
    print("selftest: PASS")


if __name__ == "__main__":
    main()
