"""URL resolution and canonicalization.

* ``resolve_url``    — Go ``url.Parse`` + ``ResolveReference`` parity
  (``GetTextStringAndURL`` ``/root/reference/scrape/scrape.go:1828-1851``)
* ``get_base_url``   — ``/root/reference/scrape/scrape.go:2277-2285``
* ``canonical_url`` / ``url_slug`` — ``TrimURLScheme``/``MakeURLStringSlug``
  ``/root/reference/fetch/fetcher.go:71-81``; visited-set normalization
  ``/root/reference/scrape/scrape.go:632-639``
* ``registrable_domain`` — lightweight public-suffix heuristic for the
  politeness partitioner (no tldextract in this environment).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit, urlunsplit

from .text import RECORD_SEPARATOR


class URLError(ValueError):
    pass


_CTRL_RE = re.compile(r"[\x00-\x1f\x7f]")


def go_url_parse_check(raw: str) -> None:
    """Go url.Parse errors on ASCII control characters; mirror that so the
    error path (record ``_error``) matches."""
    if _CTRL_RE.search(raw):
        raise URLError(f"parse {raw!r}: net/url: invalid control character in URL")


def resolve_url(base: str, rel: str) -> str:
    """baseURL.Parse(rel) — RFC 3986 resolution like Go's ResolveReference."""
    go_url_parse_check(base)
    go_url_parse_check(rel)
    if rel == "":
        # Go's ResolveReference with an empty ref returns base minus fragment
        parts = urlsplit(base)
        return urlunsplit((parts.scheme, parts.netloc, parts.path, parts.query, ""))
    return urljoin(base, rel)


def first_url_part(rel: str) -> str:
    """When multiple URLs were matched (joined with \\x1e), parse only the
    first (scrape.go:1843-1848)."""
    idx = rel.find(RECORD_SEPARATOR)
    return rel[:idx] if idx != -1 else rel


def get_base_url(page_url: str, doc_base_href: str) -> str:
    return doc_base_href if doc_base_href else page_url


def normalize_visited_url(raw: str) -> str:
    """Pagination-cycle normalization (scrape.go:632-639): strip trailing
    slashes from the path."""
    try:
        parts = urlsplit(raw)
    except ValueError:
        return raw
    path = parts.path.rstrip("/")
    return urlunsplit((parts.scheme, parts.netloc, path, parts.query, parts.fragment))


def trim_url_scheme(u: str) -> str:
    """TrimURLScheme (fetch/fetcher.go:71-77)."""
    for prefix in ("https://", "http://"):
        if u.startswith(prefix):
            u = u[len(prefix):]
            break
    if u.startswith("www."):
        u = u[4:]
    return u


_SLUG_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def url_slug(u: str) -> str:
    """MakeURLStringSlug (fetch/fetcher.go:79-81): slugified trimmed URL."""
    s = trim_url_scheme(u).lower()
    s = _SLUG_NON_ALNUM.sub("-", s)
    return s.strip("-")


def canonical_url(raw: str) -> str:
    """Canonical form for the URL-seen set: lower-case scheme+host, strip
    default port, strip fragment, strip trailing path slash. A fixed
    point: one pass can uncover what a second would strip (``urlsplit``
    drops leading C0 bytes only after ``str.strip`` ran, '\x08\xa00';
    dropping the fragment bares trailing whitespace, '0 #'), so the pass
    repeats until nothing changes: one extra pass for most inputs."""
    out = _canonical_pass(raw)
    while (nxt := _canonical_pass(out)) != out:
        out = nxt
    return out


def _canonical_pass(raw: str) -> str:
    try:
        p = urlsplit(raw.strip())
    except ValueError:
        return raw.strip()
    scheme = p.scheme.lower()
    netloc = p.netloc.lower()
    if scheme == "http" and netloc.endswith(":80"):
        netloc = netloc[:-3]
    elif scheme == "https" and netloc.endswith(":443"):
        netloc = netloc[:-4]
    path = p.path.rstrip("/")
    return urlunsplit((scheme, netloc, path, p.query, ""))


# Common-case URL shape: lowercase http(s), ASCII host (no userinfo /
# IPv6 / whitespace / control chars), optional numeric port, then
# path/query/fragment. For matches, ``frontier_triple``'s fast path is
# byte-identical to canonical_url → host_of → registrable_domain at a
# fraction of the cost (one regex match + slicing vs two urlsplit +
# urlunsplit calls) — equivalence gated by
# tests/test_crawl_rounds.py::test_to_frontier_catalyst_python_equivalence
# and the hypothesis fuzz in tests/test_properties.py.
SIMPLE_URL_RE = (
    r"^https?://[A-Za-z0-9.\-]+(:[0-9]+)?"
    r"(/[^?#\x00-\x20]*)?(\?[^#\x00-\x20]*)?(#[^\x00-\x20]*)?$"
)
_SIMPLE_SPLIT = re.compile(
    r"^(https?)://([A-Za-z0-9.\-]+(?::[0-9]+)?)((?:/[^?#\x00-\x20]*)?)"
    r"((?:\?[^#\x00-\x20]*)?)(?:#[^\x00-\x20]*)?$"
)


def frontier_triple(u: str) -> tuple[str, str, str]:
    """(canonical url, host, registrable domain) — THE hot function of
    frontier expansion (runs once per unique discovered URL). Fast path
    for the common shape; exact fallback for everything else."""
    # Mirror canonical_url's strip BEFORE the fast-path match: str.strip
    # removes UNICODE whitespace (NEL \x85, NBSP,  ...), which the
    # \x00-\x20 character classes below would otherwise pass through in
    # trailing path/query/fragment position (hypothesis-found).
    u = u.strip()
    m = _SIMPLE_SPLIT.match(u)
    if m is not None:
        scheme, netloc, path, query = m.groups()
        netloc = netloc.lower()
        if scheme == "http":
            if netloc.endswith(":80"):
                netloc = netloc[:-3]
        elif netloc.endswith(":443"):
            netloc = netloc[:-4]
        if query == "?":
            query = ""  # urlunsplit drops a bare '?' (empty query)
        canon = scheme + "://" + netloc + path.rstrip("/") + query
        host = netloc.partition(":")[0]
    # dropping '/', '?' or '#…' can bare Unicode whitespace the regex
    # admits in the path ('http://x/a\xa0#f'); canonical_url strips it
    if m is None or canon[-1].isspace():
        canon = canonical_url(u)
        host = host_of(canon)
    return canon, host, registrable_domain(host)


# A compact multi-label public-suffix subset: enough to compute
# registrable domains for synthetic + fixture hosts without the full PSL.
_TWO_LABEL_SUFFIXES = frozenset(
    "co.uk org.uk ac.uk gov.uk com.au net.au org.au com.br com.cn com.mx "
    "co.jp co.kr co.in co.nz com.sg com.tw com.hk github.io toscrape.com".split()
)


def host_of(url: str) -> str:
    try:
        return urlsplit(url).netloc.split("@")[-1].split(":")[0].lower()
    except ValueError:
        return ""


def registrable_domain(host_or_url: str) -> str:
    host = host_of(host_or_url) if "//" in host_or_url else host_or_url.lower()
    labels = host.split(".")
    if len(labels) <= 2:
        return host
    if ".".join(labels[-2:]) in _TWO_LABEL_SUFFIXES:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


# Media/file extensions never followed to detail pages
# (SkipSubURLExt, scrape.go:2308-2318)
SKIP_SUB_URL_EXT = frozenset(
    (".avif", ".gif", ".jpeg", ".jpg", ".mp3", ".mp4", ".pdf", ".png", ".webp")
)


def skip_sub_url(u: str) -> bool:
    """URL admission for detail pages: extension blacklist + scheme whitelist
    (scrape.go:2308-2323)."""
    path = urlsplit(u).path
    dot = path.rfind(".")
    ext = path[dot:].lower() if dot != -1 else ""
    if ext in SKIP_SUB_URL_EXT:
        return True
    return not (u.startswith("http://") or u.startswith("https://"))
