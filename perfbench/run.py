"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload {crawl,dedup} --seed N --seconds 15 --trace {0,1}

Each run happens in a child process that leads its own session (and so
its own process group): the Spark driver JVM, the PySpark daemon and its
Python workers all belong to it. This process samples the tree's summed
resident memory while the child runs, kills the whole group on timeout,
and after the child exits waits until no process of that session is
left; a survivor or a timeout counts as a failed operation.

End-to-end metrics (``--trace 0``), the same names for every workload:

* ``setup_s``: child spawned -> Spark session up, inputs generated and
  materialized, warm-up done.
* ``items_per_s``: crawl -> URLs selected, fetched and parsed per second
  of crawl wall (``crawl_urls_per_s``); dedup -> documents per second of
  ``dedup_total_s``.
* ``step_p50_s``: crawl -> median ``run_round`` wall
  (``crawl_round_p50_s``); dedup -> median wall of one build or query.

``--trace 1`` runs the same workload with Spark's event log on, then the
layer probes, and reports every per-layer metric of ``BENCHMARK.json``
instead; a layer the workload does not run reads 0.
``trace.overhead_share`` is the traced run's ``step_p50_s`` over the
untraced median of the same workload in ``baseline.json``, minus 1: the
cost of the event log inside the measured window, with one run's seed
noise in it. The probes' own time is ``phase_s`` on the summary line.

The measured window repeats the workload's unit of work (one crawl, one
dedup pass) until ``--seconds`` have passed, and always runs at least
one; the child gets ``--seconds`` plus ``ALLOWANCE_S`` for set-up, checks
and probes before it is killed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Output checks run on every run, outside the
timed window. The line before it carries the workload's own names
(``crawl_urls_per_s``, ``dedup_total_s``, ``failed_share``, ...), sizes,
sample counts and ``peak_rss_mb``, the peak of the tree's summed resident
memory with this process included. That peak is not a gated metric: the
driver JVM's heap growth moves it by up to 20 % between identical runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402

ALLOWANCE_S = 125.0
GRACE_S = 10.0
E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "step_p50_s": "s"}


class Child:
    """One child run: spawn in a new session, sample memory, reap the tree."""

    def __init__(self, root: str, work: str, tag: str, argv: list[str]):
        self.root, self.work, self.tag = root, work, tag
        self.out = os.path.join(work, f"{tag}.json")
        self.log = os.path.join(work, f"{tag}.log")
        self.argv = argv + ["--work", work, "--out", self.out]
        self.peak = 0
        self.survivors = 0
        self.timed_out = False

    def _sample(self, sid: int, stop: threading.Event) -> None:
        me = os.getpid()
        while not stop.is_set():
            total = procs.mem_bytes(me) + sum(procs.mem_bytes(p) for p in procs.session_pids(sid))
            self.peak = max(self.peak, total)
            stop.wait(0.5)

    def run(self, timeout: float) -> dict | None:
        env = dict(os.environ)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env.update({
            "PYTHONPATH": os.pathsep.join(p for p in (self.root, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            # every JVM (spark-submit's launcher too) keeps its temp files
            # in the work dir and writes no /tmp/hsperfdata_* entry
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        })
        argv = [sys.executable, os.path.join(HERE, "child.py"), "--t0", repr(time.time())]
        with open(self.log, "w") as log:
            p = subprocess.Popen(argv + self.argv, cwd=self.root, env=env, stdout=log,
                                 stderr=subprocess.STDOUT, start_new_session=True)
        stop = threading.Event()
        sampler = threading.Thread(target=self._sample, args=(p.pid, stop), daemon=True)
        sampler.start()
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.timed_out = True
        finally:
            if self.timed_out or p.returncode is None:
                procs.kill_session(p.pid)
                p.wait()
            stop.set()
            sampler.join()
            left = procs.wait_gone(p.pid, GRACE_S)
            if left:
                self.survivors = len(left)
                procs.kill_session(p.pid)
                left = procs.wait_gone(p.pid, GRACE_S)
            if left:
                raise RuntimeError(f"processes {left} of run {self.tag} survive SIGKILL")
        if not os.path.exists(self.out):
            return None
        with open(self.out, encoding="utf-8") as fh:
            return json.load(fh)

    def log_tail(self, n: int = 40) -> str:
        try:
            with open(self.log, errors="replace") as fh:
                return "".join(fh.readlines()[-n:])
        except OSError:
            return ""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "goskyr_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (goskyr_spark/ not found)", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    n = cores()
    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--cores", str(n)]
    tag = "traced" if a.trace else "plain"
    c = Child(root, os.path.join(work, tag), tag, base + ["--trace", str(a.trace)])
    try:
        os.makedirs(c.work)
        r = c.run(a.seconds + ALLOWANCE_S)
        tail = c.log_tail()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    attempted = (r or {}).get("attempted", 1)
    failed = (r or {}).get("failed", 1) + c.survivors + c.timed_out
    for name, ok, detail in (r or {}).get("checks", []):
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})", file=sys.stderr)
    for err in (r or {}).get("errors", []):
        print(f"error:\n{err}", file=sys.stderr)
    if c.survivors or c.timed_out:
        print(f"timed_out={c.timed_out} survivors={c.survivors}", file=sys.stderr)
    if r is None or "e2e" not in r or (a.trace and "layers" not in r):
        print(f"--- child log tail ---\n{tail}\nperfbench: the run produced no measurement",
              file=sys.stderr)
        return 1

    summary = dict(r["e2e"]["aliases"])
    if a.trace:
        layers = dict(r["layers"])
        layers["trace.overhead_share"] = r["e2e"]["step_p50_s"] / _baseline_step(a.workload) - 1
        units = _per_layer_units()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
        summary.update({k: v for k, v in layers.items() if k not in units})
        summary["phase_s"] = r["phase_s"]
    else:
        vals = {"setup_s": r["setup_s"], "items_per_s": r["e2e"]["items_per_s"],
                "step_p50_s": r["e2e"]["step_p50_s"]}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}
    summary.update({"workload": a.workload, "seed": a.seed, "cores": n,
                    "peak_rss_mb": c.peak / 2**20,
                    "sizes": r.get("sizes"), "failed_share": failed / attempted})
    print("perfbench " + json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _per_layer_units() -> dict:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _baseline_step(workload: str) -> float:
    with open(os.path.join(HERE, "baseline.json"), encoding="utf-8") as fh:
        return json.load(fh)["workloads"][workload]["baseline"]["step_p50_s"]["median"]


if __name__ == "__main__":
    sys.exit(main())
