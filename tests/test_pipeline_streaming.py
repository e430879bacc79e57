"""Pipeline sinks, merge-key join, CLI, and streaming ingestion."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F


def test_merge_records_semantics():
    from goskyr_spark.pipeline.run import merge_records

    primary = [{"id": "a", "x": "1"}, {"id": "b", "x": "2"}, {"id": "c"}]
    secondary = [{"id": "a", "extra": "A"}, {"id": "c", "extra": "C"}, {"id": "z", "extra": "Z"}]
    merge_records(primary, secondary, "id")
    assert primary[0] == {"id": "a", "x": "1", "extra": "A"}
    assert primary[1] == {"id": "b", "x": "2"}
    assert primary[2] == {"id": "c", "extra": "C"}


def test_writers_go_json_shape(tmp_path):
    from goskyr_spark.pipeline.output import record_json, write_file

    rec = {"b": "x<y&z", "a": "1"}
    s = record_json(rec)
    # sorted keys, indent 2, NO html escaping (EscapeHTML(false))
    assert s == '{\n  "a": "1",\n  "b": "x<y&z"\n}'
    p = tmp_path / "out.json"
    write_file([rec], str(p))
    assert json.load(open(p)) == [rec]


def test_api_writer_reference_protocol():
    """output/api.go:28-115 semantics via an injected mock transport:
    one DELETE per source keyed on the source's FIRST record date
    (UTC '%Y-%m-%d %H:%M'), batches of exactly 100 ACROSS sources,
    basic auth on every request, POST expects 201."""
    from datetime import datetime, timezone

    from goskyr_spark.pipeline.output import APIWriter

    calls = []

    class MockTransport:
        def request(self, method, url, body, headers, auth):
            calls.append((method, url, body, headers, auth))
            return 200 if method == "DELETE" else 201

    w = APIWriter("http://api/x", "u", "p", transport=MockTransport())
    recs = [
        {"sourceUrl": "http://s1", "date": datetime(2024, 3, 1, 12, 30 + i % 10), "i": i}
        for i in range(130)
    ] + [
        {"sourceUrl": "http://s2", "date": datetime(2024, 4, 2, 8, 5, tzinfo=timezone.utc), "i": i}
        for i in range(120)
    ]
    w.write(recs)

    deletes = [c for c in calls if c[0] == "DELETE"]
    posts = [c for c in calls if c[0] == "POST"]
    assert len(deletes) == 2  # one per source, on first record
    assert "sourceUrl=http%3A%2F%2Fs1" in deletes[0][1]
    assert "datetime=2024-03-01%2012%3A30" in deletes[0][1]  # first record's date
    assert "datetime=2024-04-02%2008%3A05" in deletes[1][1]
    # batch boundaries cross the source change: 100, 100, 50
    batch_sizes = [len(json.loads(p[2].decode())) for p in posts]
    assert batch_sizes == [100, 100, 50]
    assert all(c[4] == ("u", "p") for c in calls)  # basic auth everywhere
    assert posts[0][3]["Content-Type"] == "application/json"
    assert w.n_written == 250 and w.batches_sent == 3 and not w.errors

    # record with non-datetime date: source delete skipped with an error
    w2 = APIWriter("http://api/x", transport=MockTransport())
    w2.write([{"sourceUrl": "http://s3", "date": "not-a-date"}])
    assert len(w2.errors) == 1


def test_interaction_config_parses_and_warns():
    """fetch/fetcher.go:29-39 Interaction surface: parsed into the model
    and warned about loudly (this engine fetches statically), never
    silently dropped."""
    import warnings

    from goskyr_spark.config.model import Config

    yml = """
id:
  slug: x
scrapers:
  - name: s
    url: http://x
    interaction:
      - type: click
        selector: ".more"
        count: 2
        delay: 100
"""
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        cfg = Config.from_yaml(yml)
    assert any("interaction" in str(x.message) for x in w)
    ia = cfg.scrapers[0].interaction[0]
    assert (ia.type, ia.selector, ia.count, ia.delay) == ("click", ".more", 2, 100)


def test_interaction_config_roundtrip_lossless():
    """Round-trip gate (VERDICT r2 #10): a config carrying interaction
    re-emits through the generation YAML writer with the interaction
    block intact (go-yaml declaration order: before name), re-parses to
    the identical model, and warns again on the re-parse — warn-and-keep,
    never silently dropped."""
    import warnings

    from goskyr_spark.config.model import Config
    from goskyr_spark.generate.yamlout import dump_config

    yml = """
id:
  slug: x
scrapers:
  - name: s
    url: http://x
    selector: div.a
    interaction:
      - type: click
        selector: ".more"
        count: 2
        delay: 100
      - type: scroll
        count: 3
"""
    with warnings.catch_warnings(record=True):
        warnings.simplefilter("always")
        cfg = Config.from_yaml(yml)
    out = dump_config(cfg)
    assert "interaction:" in out and "- type: click" in out
    assert out.index("interaction:") < out.index("name:")  # go-yaml field order
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        cfg2 = Config.from_yaml(out)
    assert any("will NOT perform them" in str(x.message) for x in w2)
    assert cfg2.scrapers[0].interaction == cfg.scrapers[0].interaction
    assert dump_config(cfg2) == out  # emit is a fixpoint


@pytest.mark.requires_reference
def test_cli_scrape_matches_golden(tmp_path):
    """python -m goskyr_spark scrape on a reference fixture config."""
    from goskyr_spark.testkit.golden import REFERENCE_TESTDATA

    pages_dir = f"{REFERENCE_TESTDATA}/scraping"
    yml = f"{pages_dir}/quotes-toscrape-com_configs/quotes-toscrape-com__n10aba.yml"
    out = tmp_path / "recs.json"
    r = subprocess.run(
        [sys.executable, "-m", "goskyr_spark", "scrape", yml,
         "--pages-dir", pages_dir, "--out", str(out)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.load(open(out))
    want = json.load(open(yml[:-4] + ".json"))
    assert len(got) == len(want)
    assert got[0]["F4508ef81--0"] == want[0]["F4508ef81--0"]


def test_stream_extract_incremental(spark, tmp_path):
    from goskyr_spark.spark.corpus import CorpusSpec, generate_pages
    from goskyr_spark.streaming.ingest import stream_extract

    spec = CorpusSpec(n_hosts=2, list_pages_per_host=2, items_per_page=4, mega_factor=1, seed=11)
    pages = generate_pages(spark, spec)
    lists = pages.filter(F.col("url").contains("/list/")).cache()
    n_lists = lists.count()

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: half the pages arrive
    first = lists.limit(n_lists // 2)
    first.write.mode("append").parquet(pages_dir)
    stream_extract(spark, pages_dir, spec.config_yaml(), out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == (n_lists // 2) * spec.items_per_page

    # batch 2: the rest arrive; only NEW pages are processed (exactly-once)
    lists.join(first.select("url"), "url", "left_anti").write.mode("append").parquet(pages_dir)
    stream_extract(spark, pages_dir, spec.config_yaml(), out_dir, ckpt)
    recs = spark.read.parquet(out_dir)
    assert recs.count() == n_lists * spec.items_per_page
    assert recs.select("url").distinct().count() == n_lists


def test_host_rate_stream_watermark(spark, tmp_path):
    from goskyr_spark.spark.corpus import CorpusSpec, generate_pages
    from goskyr_spark.streaming.ingest import host_rate_stream

    spec = CorpusSpec(n_hosts=3, list_pages_per_host=2, items_per_page=2, mega_factor=1, seed=12)
    pages_dir = str(tmp_path / "p")
    generate_pages(spark, spec).write.mode("append").parquet(pages_dir)
    q = host_rate_stream(spark, pages_dir, str(tmp_path / "ck"))
    q.awaitTermination()
    # append mode emits only watermark-closed windows; the aggregation
    # state machine itself must run clean (no rows expected for a single
    # static timestamp batch)
    assert spark.sql("select * from host_rates").columns == ["window", "host", "pages"]


def test_stateful_rate_guard_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-host running totals survive micro-batch
    boundaries via the state store."""
    from pyspark.sql import functions as F

    from goskyr_spark.spark.corpus import CorpusSpec, generate_pages
    from goskyr_spark.streaming.stateful import run_rate_guard

    spec = CorpusSpec(n_hosts=2, list_pages_per_host=3, items_per_page=3, mega_factor=1, seed=21)
    pages = generate_pages(spark, spec).cache()
    pages_dir = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ck")

    out_dir = str(tmp_path / "guard")
    first = pages.limit(10)
    first.write.mode("append").parquet(pages_dir)
    q = run_rate_guard(spark, pages_dir, out_dir, ckpt, budget=10)
    q.awaitTermination()
    t1 = {r["host"]: r["total_pages"] for r in spark.read.parquet(out_dir).collect()}
    assert sum(t1.values()) == 10

    pages.join(first.select("url"), "url", "left_anti").write.mode("append").parquet(pages_dir)
    q = run_rate_guard(spark, pages_dir, out_dir, ckpt, budget=10)
    q.awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    # totals accumulated across the two passes (state store persistence)
    latest = {}
    for r in rows:
        latest[r["host"]] = max(latest.get(r["host"], 0), r["total_pages"])
    assert sum(latest.values()) == spec.total_pages
    assert any(r["over_budget"] for r in rows)


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Dedup-on-ingest: first pass admits each unique content hash once
    (min doc_id canonical); a second pass over NEW shards re-emits
    nothing for already-admitted content — exactly-once per hash for
    the checkpoint's lifetime."""
    from goskyr_spark.streaming.stateful import run_streaming_dedup

    docs_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("docs", "uniq", "ck"))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    # shard 1: two distinct texts, one duplicated within the shard
    spark.createDataFrame(
        [(1, "alpha", "en", "s", 5), (3, "alpha", "en", "s", 5), (2, "beta", "en", "s", 4)],
        schema,
    ).write.mode("append").parquet(docs_dir)
    run_streaming_dedup(spark, docs_dir, out_dir, ckpt).awaitTermination()
    got = {r.content_md5: r for r in spark.read.parquet(out_dir).collect()}
    assert len(got) == 2
    assert sorted((r.canonical_doc_id, r.n_dups_in_batch) for r in got.values()) == [(1, 2), (2, 1)]

    # shard 2: a dup of shard 1 content + one new text
    spark.createDataFrame(
        [(9, "alpha", "en", "s", 5), (10, "gamma", "en", "s", 5)], schema
    ).write.mode("append").parquet(docs_dir)
    run_streaming_dedup(spark, docs_dir, out_dir, ckpt).awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 3  # only gamma admitted in pass 2
    assert {r.canonical_doc_id for r in rows} == {1, 2, 10}


def test_windowed_counts_watermark_eviction(spark, tmp_path):
    """Watermarked tumbling windows over two micro-batches: windows the
    advancing watermark closes are emitted exactly once and match the
    batch twin row-for-row; an event arriving LATER than the watermark
    delay for an already-closed window is dropped, not double-counted."""
    from datetime import datetime as DT

    from goskyr_spark.streaming.windows import EVENTS_SCHEMA, run_windowed_counts

    events_dir, out_dir, ckpt = (
        str(tmp_path / "events"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )

    def ev(i, h, m, typ, val):
        return (i, DT(2024, 1, 1, h, m), 1, typ, float(val), "{}")

    # batch 1: hours 0–8; watermark AFTER this batch = 08:30 − 2h = 06:30
    batch1 = [
        ev(1, 0, 10, "click", 1), ev(2, 0, 40, "click", 2), ev(3, 0, 50, "view", 3),
        ev(4, 1, 15, "click", 4), ev(5, 3, 5, "view", 5), ev(6, 8, 30, "click", 6),
    ]
    # batch 2 runs WITH watermark 06:30 → flushes + evicts every window
    # ending ≤ 06:30 (hours 0/1/3) at its end; advances watermark to 07:10
    batch2 = [ev(7, 9, 10, "view", 7)]
    # batch 3: event 8 is LATE — its hour-0 window was already emitted
    # and evicted, and 01:00 < watermark 07:10 → the row must be DROPPED
    # (eviction is per-batch: a late row landing in the SAME batch that
    # flushes its window would still merge; one landing after must not)
    batch3 = [ev(8, 0, 55, "click", 99)]

    import time as _t

    for batch in (batch1, batch2, batch3):
        spark.createDataFrame(batch, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)
        _t.sleep(1.1)  # distinct mtimes → deterministic file order

    run_windowed_counts(spark, events_dir, out_dir, ckpt)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.read.parquet(out_dir).collect()
    }

    # every window ending <= 07:10 (final watermark) must be emitted,
    # computed over ON-TIME rows only
    assert got[(DT(2024, 1, 1, 0), "click")] == (2, 3.0)   # late ev 8 dropped
    assert got[(DT(2024, 1, 1, 0), "view")] == (1, 3.0)
    assert got[(DT(2024, 1, 1, 1), "click")] == (1, 4.0)
    assert got[(DT(2024, 1, 1, 3), "view")] == (1, 5.0)
    # hour-8/9 windows end after the final watermark → still open, not
    # emitted (they flush when later data advances the watermark)
    assert (DT(2024, 1, 1, 8), "click") not in got
    assert (DT(2024, 1, 1, 9), "view") not in got

    # exactly-once across a full re-run against the same checkpoint:
    # no new data → no duplicate emission of closed windows
    run_windowed_counts(spark, events_dir, out_dir, ckpt)
    again = spark.read.parquet(out_dir).count()
    assert again == len(got)
