#!/usr/bin/env python3
"""Builds the library and the benchmark from source with the Scala
compiler that ships in Spark's jars directory.

    python3 labelbench/build.py        # prints the class path and the archive

Outputs go to .bench_build/labelbench/ at the repository root. Each part is
rebuilt only when a hash of its sources changes, so repeated benchmark runs
in one checkout compile once. The last step records a class-data-sharing
archive from a tiny run, which takes about three seconds off every later
JVM's start: each benchmark run is its own short-lived JVM.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "labelbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("labelbench: Spark not found; set SPARK_HOME")
    return jars


def sources(top, suffix=".scala"):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(name, files, classpath, extra_dirs=(), extra_stamp=""):
    """Compiles `files` into OUT/name.jar, with `extra_dirs` packed beside
    them, unless its stamp already matches. A jar, because class-data
    sharing archives classes from jars only."""
    dest = os.path.join(OUT, name + ".jar")
    extra = [f for d in extra_dirs for f in sources(d, suffix="")]
    stamp = digest(files + extra, extra_stamp)
    stamp_file = os.path.join(OUT, name + ".stamp")
    if os.path.exists(dest) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest, stamp
    tmp = os.path.join(OUT, name + ".classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + files
    print(f"labelbench: compiling {name} ({len(files)} files)", file=sys.stderr)
    res = subprocess.run(cmd, cwd=ROOT)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"labelbench: compiling {name} failed")
    with zipfile.ZipFile(dest + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for top in [tmp, *extra_dirs]:
            for d, _, names in os.walk(top):
                for f in sorted(names):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), top))
    os.replace(dest + ".tmp", dest)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return dest, stamp


def jvm_base(classpath):
    from run import ADD_OPENS
    return (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath])


def archive(classpath, stamp):
    """Records the classes a tiny backfill run loads into a CDS archive."""
    jsa = os.path.join(OUT, "classes.jsa")
    stamp_file = jsa + ".stamp"
    if os.path.exists(jsa) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jsa
    work = os.path.join(OUT, "cds-work")
    print("labelbench: recording the class-data-sharing archive", file=sys.stderr)
    with open(os.path.join(OUT, "cds.log"), "w") as log:
        res = subprocess.run(
            jvm_base(classpath)[:1] + [f"-XX:ArchiveClassesAtExit={jsa}", f"-Djava.io.tmpdir={OUT}"]
            + jvm_base(classpath)[1:]
            + ["labelbench.Main", "--workload", "backfill", "--seed", "1", "--seconds", "1",
               "--work", work, "--scale", "0.05", "--setup-reps", "1", "--warmup-ops", "0"],
            cwd=ROOT, stdout=log, stderr=log)
    shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not os.path.exists(jsa):
        raise SystemExit("labelbench: recording the archive failed, see .bench_build/labelbench/cds.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jsa


def build():
    """Returns the runtime class path and the class-data-sharing archive."""
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    lib_files = sources(lib_src)
    if not lib_files:
        raise SystemExit("labelbench: no library sources under src/main/scala")
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    lib, lib_stamp = compile_into("lib", lib_files, jars, extra_dirs=[resources])
    bench, bench_stamp = compile_into("bench", sources(os.path.join(HERE, "src")),
                                      os.pathsep.join([lib, jars]), extra_stamp=lib_stamp)
    classpath = os.pathsep.join([bench, lib, jars])
    jsa = archive(classpath, bench_stamp)
    return classpath, jsa


if __name__ == "__main__":
    print(build())
