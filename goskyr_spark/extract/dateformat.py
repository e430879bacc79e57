"""Date-format auto-detection (F6) — port of
``/root/reference/date/date.go`` (+ ``month_format.go``/``day_format.go``
language tables): tokenize a sample date string by separators and map
each token to a Go reference-time layout fragment
(``January``/``Jan``/``Monday``/``Mon``/``2``/``1``/``2006``/``06``/
``15``/``04`` …), voting on the language via table intersection.

Validated against the reference's own ``date/date_test.go`` vectors
(tests/test_dateformat.py).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

_SEPARATORS = set(" ,.-:@")

_LANGS = ("en_US", "de_DE", "fr_FR", "nl_BE", "sk_SK")

LONG_MONTHS = {
    "en_US": "January February March April May June July August September October November December",
    "de_DE": "Januar Februar März April Mai Juni Juli August September Oktober November Dezember",
    "fr_FR": "janvier février mars avril mai juin juillet août septembre octobre novembre décembre",
    "nl_BE": "januari februari maart april mei juni juli augustus september oktober november december",
    "sk_SK": "január február marec apríl máj jún júl august september október november december",
}
SHORT_MONTHS = {
    "en_US": "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec",
    "de_DE": "Jan Feb Mär Apr Mai Juni Juli Aug Sep Okt Nov Dez",
    "fr_FR": "janv févr mars avr mai juin juil août sept oct nov déc",
    "nl_BE": "jan feb mrt apr mei jun jul aug sep okt nov dec",
    "sk_SK": "jan feb mar apr máj jún júl aug sep okt nov dec",
}
LONG_DAYS = {
    "en_US": "Sunday Monday Tuesday Wednesday Thursday Friday Saturday",
    "de_DE": "Sonntag Montag Dienstag Mittwoch Donnerstag Freitag Samstag",
    "fr_FR": "dimanche lundi mardi mercredi jeudi vendredi samedi",
    "nl_BE": "zondag maandag dinsdag woensdag donderdag vrijdag zaterdag",
    "sk_SK": "nedeľa pondelok utorok streda štvrtok piatok sobota",
}
SHORT_DAYS = {
    "en_US": "Sun Mon Tue Wed Thu Fri Sat",
    "de_DE": "So Mo Di Mi Do Fr Sa",
    "fr_FR": "dim lun mar mer jeu ven sam",
    "nl_BE": "zo ma di wo do vr za",
    "sk_SK": "ne po ut st št pi so",
}


def _lower_sets(tables: dict) -> list[tuple[str, frozenset]]:
    return [(lang, frozenset(w.lower() for w in tables[lang].split())) for lang in _LANGS]

_LONG_MONTH_SETS = _lower_sets(LONG_MONTHS)
_SHORT_MONTH_SETS = _lower_sets(SHORT_MONTHS)
_LONG_DAY_SETS = _lower_sets(LONG_DAYS)
_SHORT_DAY_SETS = _lower_sets(SHORT_DAYS)


@dataclass
class CoveredDateParts:
    """date.go:13-18."""

    day: bool = False
    month: bool = False
    year: bool = False
    time: bool = False

    @classmethod
    def from_dict(cls, d):
        if not d:
            return cls()
        return cls(
            day=bool(d.get("day")), month=bool(d.get("month")),
            year=bool(d.get("year")), time=bool(d.get("time")),
        )


def most_occ(items: list[str]) -> str:
    """utils.MostOcc (utils.go:59-73); first-seen wins ties."""
    if not items:
        return ""
    counts = Counter(items)
    best = max(counts.values())
    for it in items:
        if counts[it] == best:
            return it
    return items[0]


def get_date_format_multi(dates: list[str], parts: CoveredDateParts) -> tuple[str, str]:
    fs, ls = [], []
    for d in dates:
        f, l = get_date_format(d, parts)
        fs.append(f)
        ls.append(l)
    return most_occ(fs), most_occ(ls)


def _month_letters(token: str):
    t = token.lower()
    langs = [lang for lang, s in _LONG_MONTH_SETS if t in s]
    if langs:
        return "January", langs
    langs = [lang for lang, s in _SHORT_MONTH_SETS if t in s]
    if langs:
        return "Jan", langs
    return None, langs


def _day_letters(token: str):
    t = token.lower()
    langs = [lang for lang, s in _LONG_DAY_SETS if t in s]
    if langs:
        return "Monday", langs
    langs = [lang for lang, s in _SHORT_DAY_SETS if t in s]
    if langs:
        return "Mon", langs
    return None, langs


def _time_format_part(index: int, sep_tokens: list[str], tokens: list[str]):
    """date.go:245-289."""
    tok = tokens[index]
    if len(tok) <= 2:
        if sep_tokens[index] in (":", "."):
            return "15"
        if index > 0 and sep_tokens[index - 1] in (":", "."):
            return "04"
        if len(tokens) > index + 1 and tokens[index + 1] == "Uhr":
            return "15"
    else:
        if tok.endswith("h"):
            return "04h"
        low = tok.lower()
        if low.endswith(("pm", "am")):
            suffix = tok[-2:]
            fmt_suffix = "PM" if suffix in ("PM", "AM") else "pm"
            if index > 0 and sep_tokens[index - 1] != " ":
                return "04" + fmt_suffix
            return "15" + fmt_suffix
        if "u" in tok:
            return "15u04"
        if "h" in tok:
            return "15h04"
    return None


def get_date_format(date: str, parts: CoveredDateParts) -> tuple[str, str]:
    """date.go:59-176 — returns (go_layout, language)."""
    if not date:
        return "unknown format. please specify manually", ""
    parts = CoveredDateParts(parts.day, parts.month, parts.year, parts.time)

    tokens: list[str] = []
    sep_tokens: list[str] = []
    curr = ""
    for c in date:
        if c in _SEPARATORS:
            if curr != "" or not tokens:
                tokens.append(curr)
                curr = ""
                sep_tokens.append(c)
            else:
                tokens.append("")
                sep_tokens.append(c)
        else:
            curr += c
    if curr:
        tokens.append(curr)
    if len(sep_tokens) < len(tokens):
        sep_tokens.append("")

    pot_langs: list[list[str]] = []
    fmt_tokens: list[str] = []
    for i, token in enumerate(tokens):
        if token == "":
            fmt_tokens.append(token)
            continue
        has_digit = any("0" <= ch <= "9" for ch in token)
        if not has_digit:
            if parts.month:
                m, langs = _month_letters(token)
                if m is not None:
                    fmt_tokens.append(m)
                    pot_langs.append(langs)
                    parts.month = False
                    continue
            if parts.day:
                d, langs = _day_letters(token)
                if d is not None:
                    fmt_tokens.append(d)
                    pot_langs.append(langs)
                    continue
        else:
            only_digits = all("0" <= ch <= "9" for ch in token)
            if parts.day and len(token) <= 2 and only_digits:
                fmt_tokens.append("2")
                parts.day = False
                continue
            if parts.month and len(token) <= 2 and only_digits:
                fmt_tokens.append("1")
                parts.month = False
                continue
            if parts.year and len(token) in (2, 4):
                fmt_tokens.append("2006" if len(token) == 4 else "06")
                parts.year = False
                continue
            if parts.time:
                tf = _time_format_part(i, sep_tokens, tokens)
                if tf is not None:
                    fmt_tokens.append(tf)
                    continue
        fmt_tokens.append(token)

    final = "".join(ft + sep_tokens[i] for i, ft in enumerate(fmt_tokens))

    language = ""
    if len(pot_langs) > 1:
        inter = sorted(pot_langs[0])
        for langs in pot_langs[1:]:
            if not inter:
                break
            inter = sorted(set(inter) & set(langs))
        if inter:
            language = inter[0]
    elif pot_langs:
        language = pot_langs[0][0]
    return final, language
