"""Auto-config generation golden parity (mirrors the reference's
TestGenerate, ``/root/reference/cmd/goskyr/main_test.go:30-232``):
run the full generation pipeline offline against the fixture cache with
MinOccs {5,10,20} and byte-compare each generated config's YAML with the
golden ``.yml``.

The test matrix matches ``cmd/goskyr/main_testdata.go:25-65`` — hosts
commented out there (``dates-com``,
``basic-fields-w-numbered-classes-com``) carry stale pre-fork goldens the
reference itself no longer reproduces and are excluded here too.
"""

from __future__ import annotations

import glob
import os

import pytest

from goskyr_spark.config.model import read_config
from goskyr_spark.extract.urlutil import url_slug
from goskyr_spark.generate.pipeline import generate_for_fixture
from goskyr_spark.generate.yamlout import dump_config
from goskyr_spark.testkit.golden import REFERENCE_TESTDATA as REF

pytestmark = pytest.mark.requires_reference

# (category, url, require_string) — main_testdata.go:25-65, active rows only
MATRIX = [
    ("regression", "https://basic-detail-pages.com", ""),
    ("regression", "https://basic-detail-pages-w-links.com", ""),
    ("regression", "https://basic-detail-pages-w-static.com", ""),
    ("regression", "https://basic-detail-pages-flat-w-links.com", ""),
    ("regression", "https://basic-detail-pages-split-sections.com", ""),
    ("regression", "https://basic-field.com", ""),
    ("regression", "https://basic-field-w-div.com", ""),
    ("regression", "https://basic-fields-w-div.com", ""),
    ("regression", "https://basic-fields-w-div-w-div.com", ""),
    ("regression", "https://basic-fields-w-div-w-link-div.com", ""),
    ("regression", "https://basic-fields-w-link.com", ""),
    ("regression", "https://basic-fields-w-link-div.com", ""),
    ("regression", "https://basic-fields-w-style.com", ""),
    ("regression", "https://basic-fields-w-table.com", ""),
    ("regression", "https://basic-fields-w-table-in-table.com", ""),
    ("regression", "https://css-class-with-special-chars.com", ""),
    ("regression", "https://fields-w-a.com", ""),
    ("regression", "https://real-table-w-extra-rows.com", ""),
    ("regression", "https://varying-post-classes.com", ""),
    ("scraping", "https://books.toscrape.com", "Soumission"),
    ("scraping", "https://quotes.toscrape.com", "Imperfection"),
    ("scraping", "https://realpython.github.io/fake-jobs", ""),
    ("scraping", "https://webscraper.io/test-sites/e-commerce/allinone/computers/tablets", "Android"),
    ("scraping", "https://www.scrapethissite.com/pages/forms", ""),
    ("scraping", "https://www.scrapethissite.com/pages/simple", ""),
]


def golden_paths(cat: str, url: str) -> list[str]:
    from urllib.parse import urlsplit

    host_slug = url_slug(urlsplit(url).netloc)
    page_slug = url_slug(url)
    return sorted(
        glob.glob(os.path.join(REF, cat, host_slug + "_configs", page_slug + "*.yml"))
    )


CASES = [(cat, url, req) for cat, url, req in MATRIX if golden_paths(cat, url)]


@pytest.mark.parametrize(
    "cat,url,require_string",
    CASES,
    ids=[url_slug(u) for _, u, _ in CASES],
)
def test_generate_golden(cat, url, require_string):
    by_id = generate_for_fixture(os.path.join(REF, cat), url, require_string)
    failures = []
    for golden in golden_paths(cat, url):
        want = open(golden, encoding="utf-8").read()
        cid = os.path.basename(golden)[:-4]
        c = by_id.get(cid)
        if c is None:
            failures.append(f"missing config {cid!r} (have: {sorted(by_id)})")
            continue
        # main_test.go:199-203: list configs compared without paginators
        import copy

        got_c = c
        if c.id.id and not c.id.field and not c.id.subid:
            got_c = copy.deepcopy(c)
            got_c.scrapers[0].paginators = []
        got = dump_config(got_c)
        if got != want:
            gl, wl = got.splitlines(), want.splitlines()
            diff = next(
                (f"line {i+1}: got {a!r} want {b!r}"
                 for i, (a, b) in enumerate(zip(gl, wl)) if a != b),
                f"length: got {len(gl)} want {len(wl)} lines",
            )
            failures.append(f"{cid}: {diff}")
    assert not failures, "\n".join(failures)


def test_generate_golden_coverage():
    # all 20 active matrix rows must find their golden configs
    assert len(CASES) == 20
