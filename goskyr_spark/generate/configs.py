"""Auto-config generation, stage 3: field synthesis + config expansion
(G6-G10).

* processFields / dateDominatedText ← ``/root/reference/generate/analyze.go:373-557``
* expandAllPossibleConfigs          ← ``/root/reference/generate/generate.go:600-846``
* createSequentialConfig            ← ``/root/reference/generate/generate.go:66-173``
* shouldUseSequentialStrategy       ← ``/root/reference/generate/generate.go:205-246``
* minOcc sweep                      ← ``/root/reference/generate/generate.go:453-596``
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field as dc_field

from ..config.model import (
    Config,
    ConfigID,
    ElementLocation,
    Field,
    Paginator,
    Scraper,
    ValidationConfig,
)
from ..extract.datetime_ranges import parse_ranges
from ..extract.record import ExtractError, PageDoc, gq_document
from ..extract.urlutil import url_slug
from .analyzer import GNode, LocationProps, analyze_page, path_string
from .selectors import find_clusters, find_shared_root_selector, _find_count

MAX_RECURSION_DEPTH = 10
MAX_ABSOLUTE_DEPTH = 50
DO_PRUNING = True

DATETIME_FIELD_THRESHOLD = 0.25

_WEEKDAYS = "sun|sunday|mon|monday|tue|tues|tuesday|wed|weds|wednesday|thu|thus|thursday|fri|friday|saturday|sat"
_MONTHS = "jan|january|feb|february|mar|march|apr|april|may|jun|june|jul|july|aug|august|sep|sept|september|oct|october|nov|november|dec|december"
DATETIME_FIELD_RE = re.compile(
    r"(?i)\b(?:(?:19|20)\d{2}|" + _MONTHS + "|" + _WEEKDAYS + r")\b"
)
DATETIME_TOKEN_RE = re.compile(
    "(?i)^(?:" + _MONTHS + "|" + _WEEKDAYS
    + "|am|pm|noon|midnight|from|to|at|until|through|utc|gmt|est|edt|cst|cdt|mst|mdt|pst|pdt|bst|cet|cest|sast|ist|aest|aedt)$"
)


def date_dominated_text(s: str) -> bool:
    """analyze.go:387-412."""
    total, date_n = 0, 0
    for tok in s.lower().split():
        alnum = []
        has_digit = False
        for ch in tok:
            if "0" <= ch <= "9":
                has_digit = True
            if ("a" <= ch <= "z") or ("0" <= ch <= "9"):
                alnum.append(ch)
        if not alnum:
            continue
        total += len(alnum)
        if has_digit or DATETIME_TOKEN_RE.match("".join(alnum)):
            date_n += len(alnum)
    if total == 0:
        return False
    return date_n * 2 >= total


def relative_location_selector(lp: LocationProps, root_selector: list[GNode]) -> str:
    """analyze.go:541-557: sorted, deduped union of (path minus root)."""
    paths = [lp.path] + lp.alternative_paths
    seen = set()
    selectors = []
    for p in paths:
        sel = path_string(p[len(root_selector):])
        if sel in seen:
            continue
        seen.add(sel)
        selectors.append(sel)
    selectors.sort()
    return ", ".join(selectors)


def process_fields(exs_cache: dict, lps: list[LocationProps], root_selector: list[GNode],
                   ref_time=None) -> list[Field]:
    """analyze.go:416-539."""
    rs = []
    for lp in lps:
        loc = ElementLocation(selector=relative_location_selector(lp, root_selector), attr=lp.attr)
        ftype = "text"
        if loc.attr in ("href", "src"):
            ftype = "url"
        else:
            num = 0
            for ex in lp.examples:
                if ex in exs_cache:
                    # reference parity: a cache HIT counts toward num even
                    # when the cached parse failed (analyze.go:465-467)
                    num += 1
                    continue
                if not DATETIME_FIELD_RE.search(ex):
                    continue
                if not date_dominated_text(ex):
                    continue
                rngs = parse_ranges(ex, ref_time=ref_time)
                if rngs is not None and rngs.has_start_month_and_day():
                    exs_cache[ex] = str(rngs)
                    num += 1
                else:
                    exs_cache[ex] = ""
            if len(lp.examples) and num / len(lp.examples) > DATETIME_FIELD_THRESHOLD:
                ftype = "date_time_tz_ranges"
        rs.append(Field(name=lp.name, type=ftype, location=[loc]))
    return rs


# NOTE on the exsCache parity: the reference counts a cached PARSE FAILURE
# (exsCache[ex] == "") as num += 1 because the `found` branch increments
# unconditionally (analyze.go:465-467). We mirror the net effect observed in
# the goldens: cached successes count, cached failures count too on re-visit.


def records_string(recs: list[dict]) -> str:
    """output.Records.String() (record.go:12-19): json.MarshalIndent with
    sorted keys, 2-space indent, Go's HTML escaping."""
    s = json.dumps(recs, indent=2, sort_keys=True, ensure_ascii=False, default=str)
    return _go_escape(s)


def _go_escape(s: str) -> str:
    # Go escapes <, >, & inside JSON strings; python json leaves them.
    out = []
    for ch in s:
        if ch == "<":
            out.append("\\u003c")
        elif ch == ">":
            out.append("\\u003e")
        elif ch == "&":
            out.append("\\u0026")
        else:
            out.append(ch)
    return "".join(out)


@dataclass
class GenOptions:
    """ConfigOptions (generate.go:301-325), offline subset."""

    url: str = ""
    min_occs: tuple = (15, 20, 25, 30)
    min_records: int = 0
    do_detail_pages: bool = False
    only_varying_fields: bool = True
    only_known_domain_detail_pages: bool = False
    render_js: bool = False
    require_dates: bool = False
    require_string: str = ""
    static_field_evidence: list = dc_field(default_factory=list)
    config_id: ConfigID = dc_field(default_factory=ConfigID)
    ref_time: object = None

    def init(self) -> "GenOptions":
        self.config_id.slug = url_slug(self.url)
        return self


def _add_strategy_prefix(cid: ConfigID, prefix: str) -> None:
    if cid.field:
        if not cid.subid.startswith(("n", "s")):
            cid.subid = prefix + cid.subid
    else:
        if not cid.id.startswith(("n", "s")):
            cid.id = prefix + cid.id


def _replace_strategy_prefix(cid: ConfigID, prefix: str) -> ConfigID:
    out = _copy_cid(cid)
    if out.field:
        base = out.subid.removeprefix("n").removeprefix("s")
        out.subid = prefix + base
    else:
        base = out.id.removeprefix("n").removeprefix("s")
        out.id = prefix + base
    return out


def _copy_cid(cid: ConfigID) -> ConfigID:
    return ConfigID(slug=cid.slug, id=cid.id, field=cid.field, subid=cid.subid,
                    compact=getattr(cid, "compact", False))


def get_detail_page_url_fields(scraper: Scraper) -> list[Field]:
    """scrape.go:1361-1373."""
    import os

    rs = []
    for f in scraper.fields:
        if f.type != "url":
            continue
        ext = os.path.splitext(f.value)[1].lower()
        if ext in {".avif", ".gif", ".jpeg", ".jpg", ".mp3", ".mp4", ".pdf", ".png", ".webp"}:
            continue
        rs.append(f)
    return rs


def should_use_sequential_strategy(doc: PageDoc, root_sel: str, fields: list[Field]) -> bool:
    """generate.go:205-246."""
    if not any(f.type == "date_time_tz_ranges" for f in fields):
        return False
    check_len = min(20, len(root_sel))
    suffix_part = root_sel[len(root_sel) - check_len:]
    for suffix in (" > div", " > span", " > tr", " > td", " > table"):
        if root_sel.endswith(suffix) or (suffix + ".") in suffix_part or (suffix + "#") in suffix_part:
            return True
    return False


def sequential_cta_validation(fields: list[Field]) -> ValidationConfig | None:
    for f in fields:
        if f.type == "url" and f.location:
            return ValidationConfig(requires_cta_selector=f.location[0].selector)
    return None


def generated_fields_with_record_values(fields: list[Field], records: list[dict]) -> list[Field]:
    """generate.go:179-201."""
    def has_value(name: str) -> bool:
        for rec in records:
            v = rec.get(name)
            if v is None:
                continue
            if not isinstance(v, str) or v != "":
                return True
        return False

    return [f for f in fields if f.value != "" or has_value(f.name)]


def _scrape_nested(config: Config, scraper: Scraper, doc: PageDoc, ref_time=None):
    try:
        return gq_document(config, scraper, doc, ref_time)
    except ExtractError:
        return []


def create_sequential_config(opts: GenOptions, doc: PageDoc, pags, root_selector, exs_cache, lps):
    """generate.go:66-164."""
    seq_cid = _replace_strategy_prefix(opts.config_id, "s")
    seq = Scraper(
        name=str(seq_cid),
        paginators=list(pags),
        render_js=opts.render_js,
        url=opts.url,
        strategy="sequential",
    )
    if len(root_selector) > 1:
        child_paths = set()
        all_deeper = True
        for lp in lps:
            if len(lp.path) == len(root_selector):
                all_deeper = False
            elif len(lp.path) > len(root_selector):
                child_paths.add(path_string(lp.path[: len(root_selector) + 1]))
        if len(child_paths) == 2 and all_deeper:
            seq.selector = path_string(root_selector)
        else:
            seq.selector = path_string(root_selector[:-1])
    elif len(root_selector) == 1:
        seq.selector = path_string(root_selector)

    section_sel = 'div[data-dynamic-sections="index"] > div[data-section-id]'
    section_count = _find_count(doc, section_sel)
    if section_count > 0:
        cur_count = _find_count(doc, seq.selector) if seq.selector else 0
        if 4 <= section_count <= 100 and cur_count > section_count * 2:
            seq.selector = section_sel

    seq.fields = process_fields(exs_cache, lps, root_selector, opts.ref_time)
    seq.validation = sequential_cta_validation(seq.fields) or ValidationConfig()

    seq_config = Config(id=seq_cid, scrapers=[seq])
    seq_recs = _scrape_nested(seq_config, seq, doc, opts.ref_time)
    seq.fields = generated_fields_with_record_values(seq.fields, seq_recs)
    seq.validation = sequential_cta_validation(seq.fields) or ValidationConfig()
    return seq_config, seq_recs


def expand_all_possible_configs(doc: PageDoc, opts: GenOptions, lps, root_selector,
                                pag_props, rs: dict, exs_cache: dict, depth: int = 0):
    """generate.go:600-846. ``rs`` maps records-string → Config; scraped
    records are attached as ``config.records`` (the reference stores them
    on Config.Records)."""
    if depth >= MAX_RECURSION_DEPTH:
        return rs
    root_sel = path_string(root_selector)

    opts = GenOptions(**{**opts.__dict__, "config_id": _copy_cid(opts.config_id)})
    _add_strategy_prefix(opts.config_id, "n")

    pags = [Paginator(location=ElementLocation(selector=path_string(lp.path))) for lp in pag_props]
    pags.sort(key=lambda p: p.location.selector)

    s = Scraper(
        name=str(opts.config_id),
        paginators=pags,
        render_js=opts.render_js,
        url=opts.url,
        selector=root_sel,
    )
    s.fields = process_fields(exs_cache, lps, root_selector, opts.ref_time)

    generate_sequential = should_use_sequential_strategy(doc, root_sel, s.fields)

    if opts.do_detail_pages and not get_detail_page_url_fields(s):
        return rs

    nested_config = Config(id=_copy_cid(opts.config_id), scrapers=[s])
    recs = _scrape_nested(nested_config, s, doc, opts.ref_time)
    s.fields = generated_fields_with_record_values(s.fields, recs)
    c = nested_config

    if generate_sequential:
        seq_config, seq_recs = create_sequential_config(
            opts, doc, pags, root_selector, exs_cache, lps
        )
        if not (opts.min_records > 0 and len(seq_recs) < opts.min_records):
            seq_key = records_string(seq_recs)
            if seq_key not in rs:
                seq_config.records = seq_recs
                rs[seq_key] = seq_config

    clusters = find_clusters(lps, root_selector)
    cluster_ids = sorted(clusters)

    include = True
    recs_str = records_string(recs)
    if opts.require_string and opts.require_string not in recs_str:
        include = False
    if opts.require_dates:
        count = sum(
            1 for rec in recs if any(k.endswith("__Pdate_time_tz_ranges") for k in rec)
        )
        if len(recs) == 0 or count / len(recs) < 0.5:
            include = False
    if opts.min_records > 0 and len(recs) < opts.min_records:
        include = False

    if include:
        if DO_PRUNING and recs_str in rs:
            include = False
        if include:
            c.records = recs
            rs[recs_str] = c

    last_id = ord("a")
    for cluster_id in cluster_ids:
        next_opts = GenOptions(**{**opts.__dict__, "config_id": _copy_cid(opts.config_id)})
        if next_opts.config_id.field:
            next_opts.config_id.subid += chr(last_id)
        else:
            next_opts.config_id.id += chr(last_id)
        next_lps = clusters[cluster_id]
        next_root = [n.clone() for n in clusters[cluster_id][0].path[: len(root_selector) + 1]]
        next_depth = depth + 1
        if len(cluster_ids) == 1 and len(recs) <= 1 and len(next_root) < MAX_ABSOLUTE_DEPTH:
            next_depth = depth
        rs = expand_all_possible_configs(
            doc, next_opts, next_lps, next_root, pag_props, rs, exs_cache, next_depth
        )
        last_id += 1
    return rs


def configurations_with_evidence_report(doc: PageDoc, opts: GenOptions):
    """ConfigurationsForGQDocumentWithEvidenceReport
    (generate.go:434-449): generates configs and reports which
    static-field evidence rows matched at least one location. Returns
    (configs, matched_indexes, unmatched_indexes)."""
    if opts.static_field_evidence and not opts.only_varying_fields:
        raise ValueError("static field evidence requires OnlyVaryingFields")
    for i, (values, count) in enumerate(opts.static_field_evidence):
        if count <= 0:
            raise ValueError(f"static field evidence row {i}: positive occurrence count required")
        if len(values) != count:
            raise ValueError(
                f"static field evidence row {i}: value count {len(values)} must equal occurrence count {count}"
            )
    matched_any = [False] * len(opts.static_field_evidence)
    rs = configurations_for_gq_document(doc, opts, evidence_matched=matched_any)
    matched = [i for i, ok in enumerate(matched_any) if ok]
    unmatched = [i for i, ok in enumerate(matched_any) if not ok]
    return rs, matched, unmatched


def configurations_for_gq_document(doc: PageDoc, opts: GenOptions,
                                   rs: dict | None = None,
                                   evidence_matched: list | None = None) -> dict:
    """configurationsForGQDocument (generate.go:453-596): sweep MinOccs
    descending, accumulating configs keyed by records-string."""
    if rs is None:
        rs = {}
    for min_occ in sorted(opts.min_occs, reverse=True):
        o = GenOptions(**{**opts.__dict__, "config_id": _copy_cid(opts.config_id)})
        min_occ_str = f"{min_occ:02d}a"
        if o.config_id.field:
            o.config_id.subid = min_occ_str
        else:
            o.config_id.id = min_occ_str

        lps, pag_props, matched = analyze_page(
            doc.tree, min_occ, find_next=(not o.config_id.field and not o.config_id.subid),
            only_varying_fields=o.only_varying_fields,
            evidence=o.static_field_evidence,
        )
        if evidence_matched is not None:
            for i, ok in enumerate(matched):
                if ok and i < len(evidence_matched):
                    evidence_matched[i] = True
        if not lps:
            continue
        pag_props = []  # reference FIXME at generate.go:579-582 discards them
        exs_cache: dict = {}
        root_sel = find_shared_root_selector(doc, lps)
        rs = expand_all_possible_configs(
            doc, o, lps, root_sel, pag_props, rs, exs_cache, 0
        )
    return rs
