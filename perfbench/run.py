#!/usr/bin/env python3
"""Benchmark driver: build the engine with the benchmark harness, run one
workload in one JVM, and print the harness's JSON result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload catalog_sf01 --seed 1 --seconds 25 --trace 0

Workloads: catalog_sf01, catalog_x10, stream_keyed (see perfbench/README.md).
Extra options:
  --queries all|q1,q2   run other catalog queries than the workload's slice
                        (no time limit: the full catalog takes minutes)
  --record DIR          record expected results instead of measuring
                        (see perfbench/oracle.py)

Build outputs go to perfbench/target and perfbench/project; every file a
run writes goes under .bench_work/ in the current directory, which is
removed at exit except for traces (.bench_work/trace-*.json).
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import corpus  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "source.stamp")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# workload -> corpus layout (copies, files per fact table); None: the
# workload generates its own input and opens the base tables as they are
WORKLOADS = {"catalog_sf01": (1, 1), "catalog_x10": (10, 8), "stream_keyed": None}
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME/jars not found")
    return home


def build():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    t0 = time.time()
    r = subprocess.run([sbt, "-batch", "compile"], cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S, text=True,
                       env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries")
    ap.add_argument("--record")
    a = ap.parse_args()

    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
    build()
    started = time.time()
    if a.record:
        work = os.path.join(os.path.abspath(a.record), "work")
    else:
        work = os.path.join(os.path.abspath(".bench_work"), f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    data = os.path.join(HERE, "data")
    t0 = time.time()
    layout = WORKLOADS[a.workload]
    tables = corpus.build(data, a.seed, *layout, os.path.join(work, "corpus")) if layout else data
    corpus_s = time.time() - t0
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # fixed heap and generation sizes: peak RSS then tracks the
           # program's memory, not the collector's resizing decisions
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
              "-XX:NewRatio=2", "-Duser.timezone=UTC",
              # every file the JVM writes stays in the work directory
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
              "graft.bench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--corpus", tables, "--corpus-seconds", repr(corpus_s),
              "--expected", os.path.join(HERE, "expected"),
              "--work", work])
    if a.queries:
        cmd += ["--queries", a.queries]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    env.pop("SPARK_GRAFT_PROMETHEUS", None)  # it turns the web UI on
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            env=env, cwd=work, start_new_session=True)
    last = None
    try:
        out, err = proc.communicate(timeout=None if a.record or a.queries else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if not a.record:
            shutil.rmtree(work, ignore_errors=True)
        fail(f"workload did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if not a.record:
        shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("{"):
            last = line
        elif line.startswith("[perfbench]"):
            print(line)
    if proc.returncode != 0 or last is None:
        msgs = [l for l in err.splitlines() if l.strip() and not l.startswith("\t")]
        sys.stderr.write("\n".join(msgs[-40:]) + "\n")
        fail(f"workload exited with code {proc.returncode} and no result")
    print(f"[perfbench] {a.workload} timeline run_py {time.time() - started:.2f} s (corpus {corpus_s:.2f} s)")
    print(last)


if __name__ == "__main__":
    main()
