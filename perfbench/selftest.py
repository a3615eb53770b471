"""Self-tests of the benchmark's own parts:

- the generator: the same seed gives identical files and ledger, another
  seed different ones;
- the checker: it accepts the warehouse the loader writes from a tiny
  input, and rejects that warehouse with one row deleted or one misfit
  missing;
- the job-attribution listener: on the same tiny traced run every Spark job
  lands in exactly one layer (or counts as unattributed).

Run from the root of a checkout: python3 perfbench/selftest.py
"""

import glob
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

LAYERS = {"ingest", "etl", "jobs", "sink", "streaming", "operators", "bench", "unattributed"}


def drop_one_row(table_dir):
    """Rewrites the first non-empty parquet file of a table without its first row."""
    import pyarrow.parquet as pq
    for f in check._parquet_files(table_dir):
        t = pq.read_table(f)
        if t.num_rows:
            pq.write_table(t.slice(1), f)
            return
    raise AssertionError("no rows in " + table_dir)


def main():
    gen.selftest()
    home = run.spark_home()
    run.build(home)
    work = os.path.join(run.BUILD, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ledger = gen.generate("stream_fanout", 11, work, events=240, files=4, max_files_per_trigger=2)
        raw = run.run_jvm(home, "stream_fanout", os.path.join(work, "input"), work, 0, True, 2)
        op = raw["ops"][0]
        root = op["extra"]["root"]
        rows_read = int(op["parts"]["rows_read"])
        assert check.check_warehouse(root, ledger, rows_read) == [], check.check_warehouse(root, ledger, rows_read)

        # attribution: every job in exactly one known layer, and the per-layer
        # counts add up to the job total
        jobs = [json.loads(x) for f in glob.glob(os.path.join(work, "spans_*.jsonl")) for x in open(f)]
        assert jobs and all(j["layer"] in LAYERS for j in jobs), "job outside the layer list"
        layers = op["layers"]
        assert sum(v for k, v in layers.items() if k.startswith("attr.")) == layers["spark.jobs"] == len(jobs)
        print("attribution selftest ok: %d jobs, %d unattributed"
              % (len(jobs), layers["attr.unattributed.jobs"]))

        for name, table in [("one row deleted", "tracks"), ("one misfit missing", "misfits")]:
            bad_root = os.path.join(work, "mutated")
            shutil.rmtree(bad_root, ignore_errors=True)
            shutil.copytree(root, bad_root)
            drop_one_row(os.path.join(bad_root, check.NAMESPACE, table))
            found = check.check_warehouse(bad_root, ledger, rows_read)
            assert found, "checker accepted a warehouse with " + name
            print("checker selftest ok (%s): %s" % (name, found[0]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
