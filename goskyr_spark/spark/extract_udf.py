"""Vectorized page extraction: goskyr's scrape loop re-expressed as one
``mapInPandas`` pass over ``(url, html)`` Arrow batches.

The reference extracts sequentially per page (``GQDocument``
``/root/reference/scrape/scrape.go:722-843``) inside a pagination loop
(``scrape/scrape.go:647-674``). Here each page is parsed ONCE on an
executor; pagination and detail-following become frontier expansion —
the UDF additionally emits ``next_url`` (the paginator link,
``scrape/scrape.go:1388-1463``), ``detail_urls`` (the ConfigID.Field URL
per record, ``scrape/scrape.go:2327-2403``) and ``link_urls`` (all
anchors, for generic frontier discovery — the north_rule addition).

No per-row Python crosses the wire: Arrow batches in, Arrow batches out
(input_hint mandate).
"""

from __future__ import annotations

import json
from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config.model import Config
from ..extract.record import (
    ExtractError,
    PageDoc,
    URL_FIELD_NAME,
    gq_document,
    _next_page_url,
    strip_http_header,
)
from ..extract.urlutil import URLError, first_url_part, resolve_url, skip_sub_url
from . import schemas


def _record_json(rec: dict) -> str:
    def default(o):
        if isinstance(o, datetime):
            return o.isoformat(sep=" ")
        return str(o)

    return json.dumps(rec, sort_keys=True, ensure_ascii=False, default=default)


def parse_one_page(config: Config, url: str, html_str: str, ref_time=None):
    """Pure per-page parse → (records_json, next_url, detail_urls, link_urls)."""
    scraper = config.scrapers[0]
    doc = PageDoc(url, strip_http_header(html_str))
    base_url = doc.base_href() or url
    try:
        recs = gq_document(config, scraper, doc, ref_time)
    except ExtractError:
        recs = []
    for r in recs:
        r[URL_FIELD_NAME] = url
    next_url = _next_page_url(config, scraper, doc, url, 1)

    detail_urls = []
    fname = config.id.field
    if fname:
        for r in recs:
            rel = r.get(fname)
            if isinstance(rel, str) and rel:
                try:
                    u = resolve_url(base_url, first_url_part(rel))
                except URLError:
                    continue
                if not skip_sub_url(u):
                    detail_urls.append(u)

    link_urls = []
    for a in doc.find("a"):
        href = a.attrs.get("href", "")
        if not href or href.startswith(("javascript:", "mailto:", "#")):
            continue
        try:
            u = resolve_url(base_url, href)
        except URLError:
            continue
        if u.startswith(("http://", "https://")):
            link_urls.append(u)

    return [_record_json(r) for r in recs], next_url, detail_urls, link_urls


def parse_pages(pages: DataFrame, config_yaml: str, ref_time: datetime | None = None) -> DataFrame:
    """pages(url, html[, ...]) → PARSED_PAGE rows, one per input page."""
    ref_iso = ref_time.isoformat() if ref_time else None

    def run(batches):
        config = Config.from_yaml(config_yaml)
        rt = datetime.fromisoformat(ref_iso) if ref_iso else None
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
                recs, nxt, durls, lurls = parse_one_page(config, url, s, rt)
                out.append((url, recs, nxt, durls, lurls))
            yield pd.DataFrame(
                out, columns=["url", "records", "next_url", "detail_urls", "link_urls"]
            )

    return pages.select("url", "html").mapInPandas(run, schema=schemas.PARSED_PAGE)


def explode_records(parsed: DataFrame, round_id: int = 0) -> DataFrame:
    """PARSED_PAGE → RECORDS rows (posexplode keeps goskyr's in-page record
    order, which guessYear and golden comparison depend on —
    ``/root/reference/scrape/scrape.go:1262-1290``)."""
    return (
        parsed.select("url", F.posexplode("records").alias("record_idx", "record"))
        .withColumn("record_idx", F.col("record_idx").cast("int"))
        .withColumn("round_id", F.lit(round_id).cast("int"))
    )
