#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the checkout root. The first run builds the engine (through
the repository's own build, into target/) and the benchmark (into
.bench_build/) from source with sbt, then dumps a JVM class-data archive
of the classes the workloads load; later runs reuse both while no
source file changed. Each run then starts one JVM for the workload. All
scratch files stay under .bench_build/ and are removed when the run
ends. The last stdout line is the JSON result; see
perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

WORKLOADS = ["genesis_etl", "sql_mix", "llm_curate"]
HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
ENGINE = ROOT / "src" / "main"
JAVA_ARGS = BUILD / "java.args"
CDS = BUILD / "classes.jsa"
# A checkout's first run builds, trains the class archive and runs; the
# three limits together stay under 900 s.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 550
TRAIN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every source path, size and mtime the build depends on."""
    h = hashlib.sha256()
    for base in (ENGINE, ROOT / "build.sbt", ROOT / "project" / "build.properties",
                 HERE / "src" / "main", HERE / "build.sbt",
                 HERE / "project" / "build.properties"):
        paths = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in paths:
            st = p.stat()
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt and train the class archive if sources changed.
    sbt writes JAVA_ARGS: the engine build's JVM options and classpath."""
    stamp_file = BUILD / "stamp.txt"
    stamp = source_stamp()
    if JAVA_ARGS.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    log("building engine and benchmark with sbt (first run in this checkout)")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "benchLaunch"]
    proc = subprocess.run(cmd, cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True,
                          text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not JAVA_ARGS.exists():
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        sys.exit("perfbench: build failed")
    train_class_archive()
    stamp_file.write_text(stamp)


def java_cmd(tmp, cds_flag):
    """The JVM command line shared by the training run and the workloads.
    The heap flag after the argument file overrides the engine build's."""
    return ["java", f"@{JAVA_ARGS}", "-Xmx3g", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            cds_flag, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}"]


def train_class_archive():
    """Dump a class-data archive of what the workloads load. Every run
    starts its JVM with it: on 4 vCPUs a run's first set-up (JVM class
    loading, the first Spark session and plan) took 7-9 s with the
    archive and 15-17 s without, which keeps the 70 runs of a full
    benchmark check within its time limit. A failed training run fails
    the build, so that every run is measured with the archive."""
    CDS.unlink(missing_ok=True)
    tmp = BUILD / "tmp" / "train"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (java_cmd(tmp, f"-XX:ArchiveClassesAtExit={CDS}")
           + ["perfbench.Train", str(HERE / "data" / "sf0.1"), str(tmp / "work")])
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True,
                              text=True, timeout=TRAIN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: class-data archive run did not finish in {TRAIN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0 or not CDS.exists():
        sys.stderr.write(proc.stderr[-4000:])
        sys.exit("perfbench: class-data archive run failed")


def run_one(args):
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = BUILD / "work" / tag
    tmp = BUILD / "tmp" / tag
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (java_cmd(tmp, f"-XX:SharedArchiveFile={CDS}")
           + ["perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", str(HERE / "data" / "sf0.1"),
              "--digests", str(HERE / "digests.tsv"),
              "--work", str(work),
              "--trace-out", str(BUILD / "traces" / f"{args.workload}-seed{args.seed}.json")])
    if args.record_digests:
        cmd += ["--record-digests", str(Path(args.record_digests).resolve())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            sys.exit(f"perfbench: {args.workload} did not finish in {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", help="write the check pass's result digests here")
    args = ap.parse_args()

    missing = [p for p in (ROOT / "build.sbt", ENGINE / "scala" / "graft" / "SparkEntry.scala",
                           HERE / "data" / "sf0.1", HERE / "digests.tsv") if not p.exists()]
    if missing:
        sys.exit("perfbench: run from the root of a full checkout; missing " +
                 ", ".join(str(p) for p in missing))
    build()
    if args.workload != "all":
        return run_one(args)
    for w in WORKLOADS:
        args.workload = w
        rc = run_one(args)
        if rc != 0:
            return rc
    return 0


if __name__ == "__main__":
    sys.exit(main())
