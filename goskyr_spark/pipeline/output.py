"""Record sinks (S7-S10).

* stdout JSON — ``/root/reference/output/stdout.go:12-40``: per-record,
  non-HTML-escaped, 2-space indented, sorted keys (Go map marshal).
* file JSON   — ``/root/reference/output/file.go:22-62``: one indented
  JSON array.
* API writer  — ``/root/reference/output/api.go:28-115``: batched POST
  (100/batch) with basic auth + per-source DELETE; the Spark shape is a
  ``foreachBatch``/partition-wise sink. Network calls are stubbed in
  this sandbox; batching/partitioning logic is real.
* Spark-native writers: records DataFrame → parquet/json, the scale
  path (the reference collects everything driver-side; we only do that
  for golden comparison).
"""

from __future__ import annotations

import json
from datetime import datetime


def _go_value(v):
    if isinstance(v, datetime):
        # Go time.Time json-marshals as RFC3339Nano: fraction is the
        # 9-digit zero-padded nanosecond value with trailing zeros
        # stripped ('.001' for 1ms, not '.1'), and the UTC offset
        # carries a colon ('+01:00', Z for UTC) — unlike strftime('%z').
        s = v.strftime("%Y-%m-%dT%H:%M:%S")
        if v.microsecond:
            s += "." + f"{v.microsecond * 1000:09d}".rstrip("0")
        if v.tzinfo is None:
            return s + "Z"
        off = v.strftime("%z")  # e.g. +0100
        return s + ("Z" if off in ("+0000", "-0000") else off[:3] + ":" + off[3:])
    return v


def _encode(obj) -> str:
    def default(o):
        return _go_value(o) if isinstance(o, datetime) else str(o)

    return json.dumps(obj, indent=2, sort_keys=True, ensure_ascii=False, default=default)


def record_json(rec: dict) -> str:
    """StdoutWriter's per-record form (EscapeHTML(false) + Indent)."""
    return _encode({k: _go_value(v) for k, v in rec.items()})


def write_stdout(records: list[dict]) -> str:
    out = "".join(record_json(r) + "\n" for r in records)
    print(out, end="")
    return out


def write_file(records: list[dict], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(_encode([{k: _go_value(v) for k, v in r.items()} for r in records]))


class APIWriter:
    """API writer with the reference's exact protocol
    (``/root/reference/output/api.go:28-115``):

    * streaming over records, a source's FIRST record triggers one
      DELETE ``{uri}?sourceUrl=<esc>&datetime=<first date UTC
      '%Y-%m-%d %H:%M'>`` (records within a source are assumed
      date-ascending, api.go:40-41); a record whose ``date`` is not a
      datetime is skipped with an error, api.go:48-51.
    * records accumulate into batches of exactly 100 ACROSS sources
      (the batch is not flushed on source change, api.go:73-80); a
      final partial batch is flushed at end (api.go:83-87).
    * every request carries basic auth; POSTs send the JSON array with
      Content-Type application/json (api.go:92-104).

    ``transport`` is injectable: any object with
    ``request(method, url, body: bytes | None, headers: dict,
    auth: (user, pw)) -> int`` (status code). The sandbox has no
    network, so the default transport raises; tests inject a mock.
    On a cluster this class runs inside ``foreachPartition`` — one
    writer per partition, no driver collect."""

    BATCH_SIZE = 100

    def __init__(self, uri: str, user: str = "", password: str = "", transport=None):
        self.uri = uri
        self.auth = (user, password)
        self.transport = transport or _NoNetworkTransport()
        self.batches_sent = 0
        self.n_written = 0
        self.errors: list[str] = []

    def write(self, records: list[dict]) -> None:
        from urllib.parse import quote

        deleted_sources: set[str] = set()
        batch: list[dict] = []
        for rec in records:
            src = rec.get("sourceUrl")
            if src not in deleted_sources:
                deleted_sources.add(src)
                first_date = rec.get("date")
                if not isinstance(first_date, datetime):
                    self.errors.append(f"date field of record not a datetime: {rec!r}")
                    continue
                if first_date.tzinfo is not None:
                    from datetime import timezone

                    first_date = first_date.astimezone(timezone.utc)
                dt = first_date.strftime("%Y-%m-%d %H:%M")
                delete_url = (
                    f"{self.uri}?sourceUrl={quote(str(src), safe='')}"
                    f"&datetime={quote(dt, safe='')}"
                )
                status = self.transport.request("DELETE", delete_url, None, {}, self.auth)
                if status != 200:
                    raise RuntimeError(f"delete failed with status {status}: {delete_url}")
            batch.append(rec)
            if len(batch) == self.BATCH_SIZE:
                self._post_batch(batch)
                batch = []
        if batch:
            self._post_batch(batch)

    def _post_batch(self, batch: list[dict]) -> None:
        body = json.dumps(
            [{k: _go_value(v) for k, v in r.items()} for r in batch], ensure_ascii=False
        ).encode("utf-8")
        status = self.transport.request(
            "POST", self.uri, body, {"Content-Type": "application/json"}, self.auth
        )
        if status != 201:
            self.errors.append(f"post failed with status {status}")
            return
        self.batches_sent += 1
        self.n_written += len(batch)


class _NoNetworkTransport:
    def request(self, *a, **k):  # pragma: no cover
        raise NotImplementedError("network transport not available in sandbox")
