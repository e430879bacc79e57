"""One workload run in its own process; ``run.py`` starts it as a new
session and reads the JSON it writes to ``--out``.

Set-up is timed from the moment the parent spawned this process until
the Spark session is up, the inputs are generated and materialized and
the warm-up is done. The measured window then repeats the workload's
unit of work, one job at a time, until ``--seconds`` have passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def session(name: str, cores: int, work: str, event_log: str | None):
    from goskyr_spark.spark.session import build_session

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app_name=f"perfbench-{name}", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from crawl_wl import Crawl
    from dedup_wl import Dedup

    event_log = os.path.join(a.work, "eventlog") if a.trace else None
    if event_log:
        os.makedirs(event_log, exist_ok=True)
    res = {"attempted": 0, "failed": 0, "checks": [], "errors": [], "phase_s": {}}

    def mark(phase: str, since: float) -> None:
        res["phase_s"][phase] = time.time() - since
        print(f"phase {phase}: {res['phase_s'][phase]:.1f} s", flush=True)

    spark = session(a.workload, a.cores, a.work, event_log)
    try:
        wl = {"crawl": Crawl, "dedup": Dedup}[a.workload](spark, a.seed, a.work, a.cores)
        sc = spark.sparkContext
        sc.setJobDescription(f"{a.workload}/setup")
        wl.setup()
        res["setup_s"] = time.time() - a.t0
        res["sizes"] = wl.sizes()
        sc.setJobDescription(f"{a.workload}/measure")
        units, t_start = [], time.time()
        while not units or time.time() - t_start < a.seconds:
            units.append(wl.run_once())
            res["attempted"] += units[-1]["ops"]
        t_end = time.time()
        res["measure_s"] = t_end - t_start
        res["units"] = len(units)
        res["e2e"] = wl.e2e(units)
        sc.setJobDescription(f"{a.workload}/check")
        checks = wl.check()
        mark("check", t_end)
        if a.trace:
            t_probe = time.time()
            sc.setJobDescription(f"{a.workload}/layers")
            layers, more = wl.layers()
            checks += more
            mark("layers", t_probe)
            from eventlog import fold

            app_id = sc.applicationId
            spark.stop()
            layers.update(fold(event_log, app_id, t_start, t_end, a.cores))
            if hasattr(wl, "scaling"):
                t = time.time()
                scale, more = wl.scaling(
                    lambda n: session(f"{a.workload}-scale{n}", n, a.work, None))
                layers.update(scale)
                checks += more
                mark("scaling", t)
            res["layers"] = layers
        res["checks"] = checks
        res["attempted"] += len(checks)
        res["failed"] += sum(not ok for _, ok, _ in checks)
    except Exception:
        res["errors"].append(traceback.format_exc())
        res["attempted"] += 1
        res["failed"] += 1
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        with open(a.out, "w", encoding="utf-8") as fh:
            json.dump(res, fh)


if __name__ == "__main__":
    main()
