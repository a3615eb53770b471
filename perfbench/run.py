"""Benchmark of the NDJSON -> warehouse loader and the analytics hot list.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and this
harness from source with sbt into `.bench_build/` (later runs reuse the
build while the sources are unchanged). A run generates the workload's
inputs from the seed, times the workload in a fresh single-process Spark
session (`perfbench/src/main/scala/perfbench/Main.scala`), checks the
outputs, and prints one JSON result line last. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of BENCHMARK.json.
Human-readable context (load witness, sample counts, mismatches) goes to
stderr.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
# the analytics hot list, in run order, with each query's expected result
EXPECTED = os.path.join(HERE, "expected_analytics.json")
WORKLOADS = ["stream_fanout", "analytics_hot"]
# two cores leave the rest of a small box to the JIT compiler and the
# listener bus, which the cold single-operation runs lean on
CORES = min(2, os.cpu_count() or 1)
HEAP = "3g"
JVM_TIMEOUT_S = 160
# Spark 4 on JDK 17 needs these when a session is built outside
# spark-submit (the list of org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("run from the root of a checkout of the program: %s has no src/main/scala/graft" % ROOT)
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build(home):
    """Compiles the program and the harness unless the sources are unchanged."""
    h = hashlib.sha256()
    for f in sources():
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        env = dict(os.environ, SPARK_HOME=home)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                               "-Dsbt.offline=true" % repos)
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile"], cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=700)
        if r.returncode != 0:
            fail("build failed (sbt exit %d)" % r.returncode)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print("perfbench: built in %.0f s" % (time.time() - t0), file=sys.stderr)


def run_jvm(home, workload, input_dir, work, seconds, trace, max_files=None, queries=()):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # no hsperfdata file in the system temp directory: a run writes only
        # inside its checkout
        "-XX:-UsePerfData", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
        "-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"), "perfbench.Main",
        "--workload", workload, "--input", input_dir, "--work", work, "--out", out,
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cpus", str(CORES),
        "--queries", ",".join(queries)]
    if max_files:
        cmd += ["--max-files", str(max_files)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # set-up time runs from here: JVM start is part of it
        cmd += ["--launch-ms", str(int(time.time() * 1000))]
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail("workload run failed (%s):\n%s" % (code, tail))
    return check.load_json(out)


def fixture_size():
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(FIXTURE, "*.parquet")))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files), sum(os.path.getsize(f) for f in files)


def per_layer_names(queries):
    """The per-layer metrics of BENCHMARK.json, as (name, unit). Their
    `operators.<q>.*` names must be those of the analytics hot list."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        names = [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]
    listed = {n.split(".")[1] for n, _ in names if n.startswith("operators.")}
    hot = {q.split("_")[0] for q in queries}
    if listed != hot:
        fail("BENCHMARK.json lists operators metrics for %s, but the hot list is %s"
             % (sorted(listed), sorted(hot)))
    return names


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p50(xs):
    """Nearest-rank median: the ceil(n/2)-th smallest sample."""
    return sorted(xs)[(len(xs) - 1) // 2]


def layer_metrics(raw, ledger, checked):
    """Per-layer metrics: the median of each over the traced operations
    (their counts repeat exactly), plus facts taken after the timed part."""
    traced = [o for o in raw["ops"] if o["traced"]]
    keys = sorted({k for o in traced for k in o["layers"]})
    m = {k: median([o["layers"][k] for o in traced if k in o["layers"]]) for k in keys}
    m.update(raw["facts"])
    if ledger is not None:
        m["etl.misfit_rows"] = checked.get("misfits", 0)
        if "streaming.state_rows" in m:
            m["streaming.state_rows_per_key"] = m.pop("streaming.state_rows") / ledger["distinct_keys"]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    expected = check.load_json(EXPECTED)
    per_layer = per_layer_names(expected)
    home = spark_home()
    build(home)
    work = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        if a.workload == "analytics_hot":
            ledger, input_dir = None, FIXTURE
            events, in_bytes = fixture_size()
        else:
            ledger = gen.generate(a.workload, a.seed, work)
            input_dir = os.path.join(work, "input")
            events, in_bytes = ledger["events"], ledger["input_bytes"]
        gen_s = time.time() - t0
        raw = run_jvm(home, a.workload, input_dir, work, a.seconds, a.trace == 1,
                      ledger["params"]["max_files_per_trigger"] if ledger else None, list(expected))

        # untimed checks: every mismatch is one failed operation
        bad, checked = [], {}
        ops = raw["ops"]
        if ledger is None:
            for o in ops:
                got = {k[5:]: {"rows": int(v), "hash": o["extra"]["hash:" + k[5:]]}
                       for k, v in o["parts"].items() if k.startswith("rows:")}
                bad += check.check_queries(expected, got)
            attempted = len(ops) * len(expected)
            per_op = [v for o in ops for k, v in o["parts"].items() if k.startswith("q")]
            send = [o["wall_s"] for o in ops]
            # six query times, three of them sub-second and jittering by a
            # fifth from run to run, hold no steady p50: report the mean
            per_op_s = median(send) / len(expected)
        else:
            for o in ops:
                bad += check.check_warehouse(o["extra"]["root"], ledger, int(o["parts"]["rows_read"]))
            checked = check.table_rows(ops[-1]["extra"]["root"])
            per_op = [v for o in ops for k, v in o["parts"].items() if k.startswith("batch_")]
            attempted = len(per_op) + len(ops)  # micro-batches and compacts
            send = [o["parts"]["send_s"] for o in ops]
            per_op_s = p50(per_op)

        failed = min(len(bad), attempted)
        wall = median([o["wall_s"] for o in ops])
        if a.trace:
            m = layer_metrics(raw, ledger, checked)
            metrics = {k: {"value": m.get(k, 0.0), "unit": u} for k, u in per_layer}
        else:
            metrics = {
                "setup_s": {"value": raw["setup_s"], "unit": "s"},
                "wall_s": {"value": wall, "unit": "s"},
                "events_per_s": {"value": events / median(send), "unit": "1/s"},
                "input_mb_per_s": {"value": in_bytes / 1e6 / median(send), "unit": "MB/s"},
                "microbatch_p50_s": {"value": per_op_s, "unit": "s"},
                "peak_storage_mb": {"value": raw["peak_storage_mb"], "unit": "MB"},
            }
        side = {"workload": a.workload, "seed": a.seed, "cores": CORES, "ops": len(ops),
                "per_op_s": per_op, "input_generation_s": round(gen_s, 3),
                "setup_s": raw["setup_s"], "untimed_pass_s": raw["untimed_pass_s"], "load_witness": raw["load"], "mismatches": bad[:20]}
        print(json.dumps(side), file=sys.stderr)
        keep = os.path.join(BUILD, "last", a.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in glob.glob(os.path.join(work, "spans_*.jsonl")) + [os.path.join(work, "raw.json")]:
            shutil.copy(f, keep)
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
