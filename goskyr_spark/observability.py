"""Observability: structured metrics + per-partition lineage for the
crawl engine (north_rule: "per-partition lineage + metrics"; reference
counterpart: ``/root/reference/observability/metering.go:1-122`` and
``instruments.go`` — the reference meters spans/counters in-process; here
the same signals are durable, queryable tables).

Three mechanisms, chosen so that metrics collection adds ZERO extra
Spark jobs per crawl round (the round-1 engine spent 4 count jobs +
1 counter-write job per round on this — the dominant fixed cost at
small rounds):

* ``Observation`` (pyspark.sql) — row counts ride along on the write
  actions that must happen anyway. Spark implements Observation via a
  QueryExecutionListener on the JVM side; this IS the Spark listener
  hook for batch queries.
* parquet footers — every written delta already records per-file row
  counts in its footer, and Spark writes one file per task, so
  per-partition lineage is read back with driver-side pyarrow metadata
  access (no data scan, no job).
* ``MetricsLog`` — driver-side JSONL append (atomic rename), loaded as
  a DataFrame with ``load_metrics``. One row per (round, stage, metric).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

METRICS_SCHEMA = (
    "round_id INT, stage STRING, metric STRING, value DOUBLE, unit STRING, ts DOUBLE, "
    "span_id STRING, parent_id STRING"
)

LINEAGE_SCHEMA = (
    "round_id INT, stage STRING, file STRING, part_index INT, rows LONG, bytes LONG"
)


def parquet_lineage(path: str) -> list[dict]:
    """Per-file (== per-writing-task) row counts + sizes from parquet
    FOOTERS — metadata-only reads, no Spark job, no data scan. Returns
    [] if the directory does not exist or holds no parquet files."""
    import pyarrow.parquet as pq

    out: list[dict] = []
    if not os.path.isdir(path):
        return out
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        full = os.path.join(path, name)
        try:
            md = pq.ParquetFile(full).metadata
        except Exception:
            continue
        # Spark file names: part-00007-<uuid>...parquet → partition 7
        part_index = -1
        if name.startswith("part-"):
            try:
                part_index = int(name.split("-")[1])
            except ValueError:
                pass
        out.append(
            {
                "file": name,
                "part_index": part_index,
                "rows": md.num_rows,
                "bytes": os.path.getsize(full),
            }
        )
    return out


class MetricsLog:
    """Append-only driver-side metrics sink: one JSONL file per
    warehouse, atomic appends (write temp + os.replace is unnecessary
    for appends — a single O_APPEND write of one line is atomic on
    POSIX for line-sized payloads). Zero Spark jobs to record; loaded
    as a DataFrame for querying."""

    def __init__(self, warehouse: str):
        self.dir = os.path.join(warehouse, "metrics")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, "metrics.jsonl")

    def emit(self, round_id: int, stage: str, metric: str, value: float, unit: str,
             span_id: str | None = None, parent_id: str | None = None) -> None:
        row = {
            "round_id": int(round_id),
            "stage": stage,
            "metric": metric,
            "value": float(value),
            "unit": unit,
            "ts": time.time(),
        }
        if span_id is not None:
            row["span_id"] = span_id
        if parent_id is not None:
            row["parent_id"] = parent_id
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(row) + "\n")

    def compact_from(self, round_id: int) -> None:
        """Reconcile on resume: drop crawl-stage rows for rounds that
        never committed (>= ``round_id``) before those rounds re-run —
        otherwise a crash after emit (or a restart re-running a round)
        leaves duplicate (round_id, stage) rows and ``load_metrics``
        double-counts."""
        if not os.path.exists(self.path):
            return
        kept = []
        with open(self.path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    row = json.loads(line)
                except ValueError:
                    continue
                if int(row.get("round_id", -1)) < round_id:
                    kept.append(line)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.writelines(kept)
        os.replace(tmp, self.path)

    def emit_stage(
        self,
        round_id: int,
        stage: str,
        n_rows: int | None = None,
        duration_s: float | None = None,
        n_bytes: int | None = None,
    ) -> None:
        if n_rows is not None:
            self.emit(round_id, stage, "rows", n_rows, "rows")
        if duration_s is not None:
            self.emit(round_id, stage, "duration", duration_s, "sec")
        if n_bytes is not None:
            self.emit(round_id, stage, "bytes", n_bytes, "bytes")


class Tracer:
    """Nested stage spans, ported from the reference's OpenTelemetry
    surface (``/root/reference/observability/tracing.go:34-120``,
    ``instruments.go``): each span records (name, span_id, parent_id,
    duration) and is emitted into the MetricsLog JSONL on exit as a row
    with ``metric='span'`` — durable and queryable next to the counters,
    instead of an in-memory exporter. ``span_tree`` renders the
    parent/child hierarchy like the reference's ``TraceSpanTree``
    (tracing.go:157-221). Driver-side only (spans wrap Spark ACTIONS,
    which are driver calls; per-task timing lives in the Spark UI)."""

    def __init__(self, log: MetricsLog, round_id: int = -1):
        import itertools

        self.log = log
        self.round_id = round_id
        self._stack: list[str] = []
        # itertools.count: span ids stay unique when the async sink
        # flush spans open from pool threads (next() is atomic in
        # CPython; a bare `self._n += 1` is a read-modify-write race)
        self._n = itertools.count()

    def span(self, name: str, parent: str | None = None):
        """Open a span. ``parent`` overrides the implicit stack parent —
        required for spans running in a CONCURRENT thread (e.g. the
        bloom-merge write overlapping the records write): the stack is
        the driver thread's, so a threaded span must not touch it."""
        from contextlib import contextmanager

        threaded = parent is not None

        @contextmanager
        def _cm():
            sid = f"r{self.round_id}.s{next(self._n)}"
            p = parent if threaded else (self._stack[-1] if self._stack else None)
            if not threaded:
                self._stack.append(sid)
            t0 = time.time()
            try:
                yield sid
            finally:
                if not threaded:
                    self._stack.pop()
                self.log.emit(
                    self.round_id, name, "span", time.time() - t0, "sec",
                    span_id=sid, parent_id=p,
                )

        return _cm()


def load_spans(spark: SparkSession, warehouse: str) -> DataFrame:
    return load_metrics(spark, warehouse).filter("metric = 'span'")


def span_tree(rows) -> str:
    """Render span rows (any iterable with .stage/.span_id/.parent_id/
    .value fields or dict-likes) as an indented tree, children in
    emit order — the reference's TraceSpanTree shape."""
    def get(r, k):
        return r[k] if not hasattr(r, k) else getattr(r, k)

    spans = [
        {"stage": get(r, "stage"), "span_id": get(r, "span_id"),
         "parent_id": get(r, "parent_id"), "value": get(r, "value")}
        for r in rows
    ]
    children: dict[str | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent_id"], []).append(s)

    out: list[str] = []

    def walk(parent: str | None, depth: int) -> None:
        for s in children.get(parent, []):
            out.append(f"{'  ' * depth}{s['stage']} ({s['value']:.3f}s)")
            walk(s["span_id"], depth + 1)

    walk(None, 0)
    return "\n".join(out)


def load_metrics(spark: SparkSession, warehouse: str) -> DataFrame:
    path = os.path.join(warehouse, "metrics", "metrics.jsonl")
    if not os.path.exists(path):
        return spark.createDataFrame([], METRICS_SCHEMA)
    return spark.read.schema(METRICS_SCHEMA).json(path)

