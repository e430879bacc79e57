"""Golden-fixture harness: replays the reference's own end-to-end scrape
tests (``/root/reference/cmd/goskyr/main_test.go:234-345``) against our
engine and diffs records with the golden JSONs.

Fixture layout (``testdata/{regression,scraping}/``):
  ``{host-slug}/{url-slug}.html``      cached page (HTTP header line first)
  ``{host-slug}_configs/{id}.yml``     golden config
  ``{host-slug}_configs/{id}.json``    golden records
"""

from __future__ import annotations

import glob
import json
import os

from ..config.model import Config, read_config
from ..extract.record import detail_pages, scrape_page
from ..extract.urlutil import url_slug

# The reference goskyr checkout: $GOSKYR_REFERENCE_ROOT, by default a
# directory named ``reference`` next to this repository.
# Tests that read it carry the ``requires_reference`` marker
# (tests/conftest.py) and skip, naming this path, when it is absent.
REFERENCE_ROOT = os.environ.get(
    "GOSKYR_REFERENCE_ROOT",
    os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..", "..", "reference")),
)
REFERENCE_TESTDATA = os.path.join(REFERENCE_ROOT, "testdata")


def page_getter(cat_dir: str):
    """get_page(url) mirroring the URL file cache
    (``CacheURLFilebase`` ``/root/reference/fetch/file_cache.go:141-158``)."""

    def get_page(url: str):
        from urllib.parse import urlsplit

        host = urlsplit(url).netloc
        p = os.path.join(cat_dir, url_slug(host), url_slug(url) + ".html")
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as fh:
            return fh.read()

    return get_page

def get_records(config: Config, cat_dir: str, ref_time=None):
    """getRecords (main_test.go:347-372): list page vs detail page vs
    combined config, selected by ConfigID shape."""
    get_page = page_getter(cat_dir)
    cid = config.id
    if cid.id and not cid.field and not cid.subid:
        return scrape_page(config, config.scrapers[0], get_page, ref_time=ref_time)
    if not cid.id and cid.field and cid.subid:
        return scrape_page(config, config.scrapers[0], get_page, ref_time=ref_time)
    recs = scrape_page(config, config.scrapers[0], get_page, ref_time=ref_time)
    detail_pages(config, config.scrapers[1], recs, get_page, ref_time=ref_time)
    return recs


def iter_golden_cases(root: str = REFERENCE_TESTDATA):
    """Yield (category, config_path, golden_json_path)."""
    for cat in ("regression", "scraping"):
        cat_dir = os.path.join(root, cat)
        for yml in sorted(glob.glob(os.path.join(cat_dir, "*_configs", "*.yml"))):
            jsn = yml[:-4] + ".json"
            if os.path.exists(jsn):
                yield cat, yml, jsn


def compare_case(yml_path: str, golden_path: str, ref_time=None):
    """Run one golden case. Returns (ok, ours, want, diffs)."""
    cat_dir = os.path.dirname(os.path.dirname(yml_path))
    config = read_config(yml_path)
    ours = get_records(config, cat_dir, ref_time=ref_time)
    with open(golden_path, encoding="utf-8") as fh:
        want = json.load(fh)
    if want is None:
        want = []
    diffs = diff_records(ours, want)
    return (not diffs, ours, want, diffs)


def diff_records(ours: list, want: list) -> list[str]:
    out = []
    if len(ours) != len(want):
        out.append(f"record count: ours={len(ours)} want={len(want)}")
    for i, (a, b) in enumerate(zip(ours, want)):
        keys_a, keys_b = set(a.keys()), set(b.keys())
        for k in sorted(keys_b - keys_a):
            out.append(f"rec[{i}]: missing key {k!r} (want {b[k]!r})")
        for k in sorted(keys_a - keys_b):
            out.append(f"rec[{i}]: extra key {k!r} (ours {a[k]!r})")
        for k in sorted(keys_a & keys_b):
            if a[k] != b[k]:
                out.append(f"rec[{i}].{k}: ours={a[k]!r} want={b[k]!r}")
    return out
