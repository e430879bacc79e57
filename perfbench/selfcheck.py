"""Benchmark self-check, run by hand from the repository root:

    python3 perfbench/selfcheck.py [--seed 1]

1. Process hygiene: a session with a grandchild is killed through
   ``procs.kill_session`` and must leave no live process behind.
2. The dedup family on the seeded 500-document corpus (the size of the
   ``sf0.01`` tables) against the DuckDB ``oracle_sql()`` of every query
   the workload runs. Takes a few minutes on 4 cores; at 5,000 documents
   the all-pairs oracles alone run for over ten minutes, so the timed
   runs check their outputs in Python instead.
3. The MinHash family the workload leaves out (``minhash_gates.QUERIES``)
   against its oracles and its recall gates. These fail while the MinHash
   permutations stay nearly monotone in the shingle hash.

Exits 1 if any check fails.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__)), os.path.join(ROOT, "tools")]

import procs  # noqa: E402


def hygiene() -> bool:
    p = subprocess.Popen(["bash", "-c", "sleep 300 & sleep 300"], start_new_session=True)
    procs.kill_session(p.pid)
    p.wait()
    return not procs.wait_gone(p.pid, 10.0)


def oracles(seed: int, work: str) -> list[str]:
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    import dedup_data
    from check_oracles import normalize
    from child import session
    import minhash_gates
    from dedup_wl import N_DOCS, N_VECS, QUERIES, TRACED_QUERIES

    corpus = os.path.join(work, "corpus")
    dedup_data.write_tables(corpus, N_DOCS, N_VECS, seed)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    spark = session("selfcheck", len(os.sched_getaffinity(0)), work, None)
    failed = []
    try:
        qs, sql = entry.queries(), entry.oracle_sql()
        res = {}
        for name in QUERIES + TRACED_QUERIES + minhash_gates.QUERIES:
            res[name] = qs[name](spark, corpus).toPandas()
            ours, want = normalize(res[name]), normalize(con.execute(sql[name]).df())
            ok = list(ours.columns) == list(want.columns) and ours.equals(want)
            print(f"{'ok  ' if ok else 'FAIL'} {name}: spark={len(ours)} duckdb={len(want)} rows",
                  flush=True)
            if not ok:
                failed.append(name)
        docs = pq.read_table(os.path.join(corpus, "documents.parquet")).to_pandas()
        for name, ok, detail in minhash_gates.gates(docs, res):
            print(f"{'ok  ' if ok else 'FAIL'} {name}: {detail}", flush=True)
            if not ok:
                failed.append(name)
    finally:
        spark.stop()
    return failed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = hygiene()
    print(f"{'ok  ' if ok else 'FAIL'} hygiene: killed session leaves no process", flush=True)
    work = os.path.join(ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({"TMPDIR": os.path.join(work, "tmp"),
                       "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
                       "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       "PYTHONPATH": ROOT, "SPARK_GRAFT_DRIVER_MEM": "2g"})
    try:
        failed = oracles(a.seed, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if failed:
        print("failed: " + ", ".join(failed))
    return 0 if ok and not failed else 1


if __name__ == "__main__":
    sys.exit(main())
