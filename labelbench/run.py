#!/usr/bin/env python3
"""Label-store benchmark: one run of one workload.

    python3 labelbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Builds the library and the benchmark from source (see build.py), runs one
JVM with Spark local[nproc], and prints, as its last stdout line, the JSON
record {"correct", "attempted", "failed", "metrics"}. The line before it,
prefixed "labelbench-info", carries what is not a metric: the warm-up done,
the set-up repetitions, every operation's time, and the share of CPU time
the hypervisor stole during the run (from /proc/stat).
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# what spark-submit would open on JDK 17
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpu_times():
    """(steal, total) jiffies over all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # where guest time is already counted in user time
    return fields[7], sum(fields[:8])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backfill", "incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size; below 1 only for the self-test")
    ap.add_argument("--setup-reps", type=int, default=3)
    ap.add_argument("--warmup-ops", type=int, default=None, help="a fixed warm-up, without the pre-warm")
    ap.add_argument("--mix", default=None, choices=["default", "alt"],
                    help="traffic mix; alt moves every assumed share (README)")
    args = ap.parse_args()

    classpath, jsa = build.build()
    out = os.path.join(build.OUT, "runs")
    work = os.path.join(out, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_args = [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", os.path.join(work, "data"), "--scale", str(args.scale),
        "--setup-reps", str(args.setup_reps)]
    for flag in ("warmup_ops", "mix"):
        if getattr(args, flag) is not None:
            jvm_args += ["--" + flag.replace("_", "-"), str(getattr(args, flag))]
    if args.trace:
        jvm_args += ["--spans", os.path.join(out, "spans", f"{args.workload}-{args.seed}.jsonl")]
    base = build.jvm_base(classpath)
    cmd = (base[:1] + [f"-XX:SharedArchiveFile={jsa}", f"-Djava.io.tmpdir={tmp}"] + base[1:]
           + ["labelbench.Main"] + jvm_args)

    before = cpu_times()
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"labelbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        subprocess.run(["rm", "-rf", work])
    after = cpu_times()

    lines = [ln for ln in stdout.splitlines() if ln.startswith("labelbench-result ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        raise SystemExit(f"labelbench: run failed (exit {proc.returncode})")
    record = json.loads(lines[-1][len("labelbench-result "):])
    info = record.pop("info")
    if before and after and after[1] > before[1]:
        info["steal_frac"] = (after[0] - before[0]) / (after[1] - before[1])
    print("labelbench-info " + json.dumps(info))
    print(json.dumps(record))


if __name__ == "__main__":
    main()
