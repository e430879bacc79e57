"""End-to-end integration: the reference's OWN fixture pages flow
through the full engine — fixture HTML ingested as a pages table →
distributed crawl rounds (seed fetch + detail-page frontier expansion)
→ extraction (byte-identical to the reference goldens) → training-data
prep over the extracted record text. This is the composition gate the
two halves otherwise only meet in bench: the crawl/extract engine's
RECORDS output is a valid documents input for the LLM-pipeline ops.

Corpus: the quotes-toscrape-com scraping fixture set
(``testdata/scraping/`` of the reference checkout) with the reference's golden config
quotes-toscrape-com__n10aba — one list page (10 quote records) whose
author links become detail fetches (8 distinct author pages, cached as
fixtures by the reference's own test run, main_test.go).
"""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from goskyr_spark.crawl.bloom import BloomSpec
from goskyr_spark.crawl.rounds import CrawlRun
from goskyr_spark.ops.trainprep import training_prep_docs
from goskyr_spark.spark import schemas
from goskyr_spark.testkit.golden import REFERENCE_TESTDATA, page_getter

pytestmark = pytest.mark.requires_reference

FIX = f"{REFERENCE_TESTDATA}/scraping"
YML = f"{FIX}/quotes-toscrape-com_configs/quotes-toscrape-com__n10aba.yml"
GOLDEN = f"{FIX}/quotes-toscrape-com_configs/quotes-toscrape-com__n10aba.json"
SEED = "https://quotes.toscrape.com"
QUOTE_FIELD = "Ff659bb6c--0"
DETAIL_FIELD = "F9b402b22-href-0"


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN, encoding="utf-8") as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def crawl_out(spark, golden, tmp_path_factory):
    """Run the crawl once for the module; return (visit_pdf, records)."""
    get_page = page_getter(FIX)
    author_urls = sorted({r[f"{DETAIL_FIELD}__Aurl"] for r in golden})
    assert len(author_urls) == 8
    rows = []
    for u in [SEED] + author_urls:
        html = get_page(u)
        assert html is not None, f"fixture missing for {u}"
        rows.append((u, None, html.encode("utf-8"), None, None))
    pages = spark.createDataFrame(rows, schemas.PAGES)

    with open(YML, encoding="utf-8") as fh:
        cfg = fh.read().replace('field: ""', f"field: {DETAIL_FIELD}", 1)

    run = CrawlRun(
        spark,
        str(tmp_path_factory.mktemp("wh")),
        pages,
        cfg,
        robots=None,
        bloom_spec=BloomSpec(n_buckets=8, bits_per_bucket=1 << 14),
        default_budget=32,
        n_salts=4,
        follow_links=False,
    )
    run.init([SEED])
    stats = run.run(max_rounds=5)
    assert stats[-1]["done"]
    visits = run.visit_log().orderBy("round_id", "visit_rank").toPandas()
    records = run.all_records()
    return visits, records


def test_crawl_visits_seed_then_detail_pages(crawl_out, golden):
    visits, _ = crawl_out
    author_urls = sorted({r[f"{DETAIL_FIELD}__Aurl"] for r in golden})
    # round 0: the seed list page; round 1: every distinct author page
    # exactly once (exactly-once fetch — the seen-set invariant)
    assert visits[visits["round_id"] == 0]["url"].tolist() == [SEED]
    assert sorted(visits[visits["round_id"] == 1]["url"]) == author_urls
    assert len(visits) == 9 and visits["url"].is_unique


def test_extracted_records_match_reference_goldens(crawl_out, golden):
    """Byte-identical extracted records per URL (the BASELINE.json
    per-row invariant) — the distributed UDF path must reproduce the
    reference's golden JSON for the list page, in page order."""
    _, records = crawl_out
    ours = [
        json.loads(r["record"])
        for r in records.orderBy("record_idx").collect()
    ]
    assert len(ours) == len(golden) == 10
    for got, want in zip(ours, golden):
        got = {k: v for k, v in got.items() if k != "Aurl"}
        want = {k: v for k, v in want.items() if k != "Aurl"}
        # the golden run fetched live (Aurl == page URL in both, minus
        # the trailing-slash the live site redirects through)
        assert got == want


def test_training_prep_over_extracted_text(crawl_out):
    """Extracted record text is a valid documents input: the composed
    dedup → lang gate → quality gate pipeline over the crawl's RECORDS
    output equals an independent pure-Python replica of the gates
    (Java \\s and trim semantics) on the same texts."""
    _, records = crawl_out
    docs = records.select(
        F.col("record_idx").cast("long").alias("doc_id"),
        F.element_at(
            F.from_json("record", "map<string,string>"), QUOTE_FIELD
        ).alias("text"),
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_chars"], r["n_stopwords"], r["lang_pred"])
        for r in training_prep_docs(docs).collect()
    }

    texts = {
        r["doc_id"]: r["text"] for r in docs.collect()
    }
    java_ws = "[ \\t\\n\\x0b\\f\\r]"
    seen_text: set[str] = set()
    expect = {}
    for doc_id in sorted(texts):
        t = texts[doc_id]
        if t in seen_text:
            continue  # exact-dedup keeps the min-doc_id copy
        seen_text.add(t)
        toks = re.split(java_ws + "+", t.strip(" \t\n\x0b\f\r"))
        votes = {
            lang: len(re.findall(rf"\b({words})\b", t.lower()))
            for lang, words in [
                ("en", "the|and|of|is|for"),
                ("de", "der|die|das|und|ist"),
                ("es", "el|la|los|y|es"),
                ("fr", "le|la|les|et|est"),
            ]
        }
        en, de, es, fr = votes["en"], votes["de"], votes["es"], votes["fr"]
        if en >= de and en >= es and en >= fr and en > 0:
            lang = "en"
        elif de >= es and de >= fr and de > 0:
            lang = "de"
        elif es >= fr and es > 0:
            lang = "es"
        elif fr > 0:
            lang = "fr"
        else:
            lang = "und"
        n_stop = len(re.findall(r"\b(the|a|and|of|to|in|is|for)\b", t.lower()))
        if lang == "en" and len(toks) >= 10 and n_stop >= 1:
            expect[doc_id] = (len(toks), len(t), n_stop, lang)

    assert out == expect
    # the fixture corpus really exercises the gates: some quotes survive
    assert len(out) >= 5
