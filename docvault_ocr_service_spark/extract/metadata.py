"""Structured-metadata extraction from document text (pure Python, no Spark).

Value-compatible with the reference's v2 extractor
(``/root/reference/app/metadata_extractor_v2.py:365-409``) — the one the
worker actually runs (``app/worker.py:23,82``) — with one deliberate
canonicalization: the reference returns ``list(set(...))`` for emails,
phones, invoice/po numbers, postal codes, addresses and tax ids
(``app/metadata_extractor_v2.py:256,267,278,289,300,311,323``), whose order
varies with the process hash seed.  We return those fields **sorted** so the
output is a pure function of the input text; the reference's own tests only
assert membership (``tests/test_metadata_extractor.py:187-195``), so sorted
order is a strictly stronger guarantee, and the golden corpus freezes it.

Order-preserving fields (dates, amounts, names + their contexts) follow the
reference exactly: pattern-union order (en then pl), duplicates included.

All regexes are precompiled once at import; extraction is a per-string
function meant to be mapped over an Arrow batch (``pd.Series``) inside a
pandas UDF — the per-batch loop lives in ``functions/udfs.py``.

Gate rule: each pattern carries the prefilter ``prefilter.Gated`` derives
from its parse tree, and that is the only gate.  A pattern runs only when
the text's gate text (its lowercase, with what ``re.IGNORECASE`` folds
together mapped to one character, so sound on any text, ASCII or not)
holds every literal clause and, where every match needs one, a digit; a
pattern whose every match starts at a digit or a known literal is tried
with ``match`` at those offsets only.  The output equals a plain
``finditer`` pass over every pattern; ``tests/test_prefilter.py`` checks
that differentially.
"""

from __future__ import annotations

import re
from datetime import date
from functools import lru_cache

from dateutil import parser as _dateutil_parser

from . import patterns as P
from .prefilter import Gated, Scan


# Precompiled pattern tables (module-level: compiled once per executor
# process, shared across every Arrow batch that worker handles), each
# pattern with its prefilter (prefilter.py).
def _gated(patterns, flags: int = 0) -> tuple[Gated, ...]:
    return tuple(Gated(re.compile(p, flags)) for p in patterns)


# DATE_PATTERNS repeats the ISO and numeric patterns (en + pl); each
# distinct one is scanned once and its matches replayed in _DATE_ORDER.
_DATE_UNIQUE = tuple(dict.fromkeys(P.DATE_PATTERNS))
_DATE_RES = _gated(_DATE_UNIQUE, re.IGNORECASE)
_DATE_ORDER = tuple(_DATE_UNIQUE.index(p) for p in P.DATE_PATTERNS)
_AMOUNT_RES = _gated(P.AMOUNT_PATTERNS, re.IGNORECASE)
_PHONE_RES = _gated(P.PHONE_PATTERNS)
_POSTAL_RES = _gated(P.POSTAL_PATTERNS)
_INVOICE_RES = _gated(P.INVOICE_PATTERNS, re.IGNORECASE)
_PO_RES = _gated(P.PO_PATTERNS, re.IGNORECASE)
_TAX_RES = _gated(P.TAX_ID_PATTERNS, re.IGNORECASE)
_ADDRESS_RES = _gated(P.ADDRESS_PATTERNS)
(_EMAIL_RE,) = _gated((P.EMAIL_PATTERN,))
(_NAME_RE,) = _gated((P.NAME_PATTERN,))

# Flat output schema (field order is the Spark StructType order).
METADATA_FIELDS: tuple[str, ...] = (
    "dates", "amounts", "names", "emails", "phones", "addresses",
    "postal_codes", "invoice_numbers", "po_numbers", "tax_ids",
    "date_contexts", "amount_labels", "name_contexts", "confidence",
)


@lru_cache(maxsize=65536)
def _parse_date_cached(s: str):
    """dateutil fuzzy parse with memoization — real corpora repeat the
    same date strings endlessly, and the ISO pattern is matched twice by
    construction (en+pl both declare it)."""
    try:
        return _dateutil_parser.parse(s, fuzzy=True).date()
    except (ValueError, OverflowError):
        return None


def _tail_context(text: str, pos: int, window: int, keep: int) -> str:
    """Last ``keep`` chars of the stripped ``window`` chars before ``pos``.

    Matches the reference's context-window rule
    (app/metadata_extractor_v2.py:165-167, 216-218, 248-250).
    """
    ctx = text[max(0, pos - window):pos].strip()
    return ctx[-keep:] if len(ctx) > keep else ctx


def extract_dates(scan: Scan) -> tuple[list[date], list[str]]:
    """Dates (1900..2100) + 50/30-char contexts, in pattern-union order.

    Reference: app/metadata_extractor_v2.py:148-175.  Duplicate matches are
    intentional (the ISO/numeric patterns appear once per language).
    """
    text = scan.text
    hits: list[list[tuple[date, str]]] = []
    for g in _DATE_RES:
        got = []
        for m in g.finditer(scan):
            parsed = _parse_date_cached(m.group(0))
            if parsed is not None and 1900 <= parsed.year <= 2100:
                got.append((parsed, _tail_context(text, m.start(), 50, 30)))
        hits.append(got)
    found: list[date] = []
    contexts: list[str] = []
    for i in _DATE_ORDER:
        for parsed, ctx in hits[i]:
            found.append(parsed)
            contexts.append(ctx)
    return found, contexts


def _normalize_amount(raw: str) -> float:
    """US/EU separator disambiguation → float.

    Rules (app/metadata_extractor_v2.py:189-209): strip spaces; if both
    separators present, the right-most one is the decimal mark; a single
    comma with exactly two trailing digits is a decimal mark, any other
    comma is a thousands separator.
    """
    s = raw.replace(" ", "")
    if "." in s and "," in s:
        if s.rindex(",") > s.rindex("."):
            s = s.replace(".", "").replace(",", ".")   # 1.500,00 → 1500.00
        else:
            s = s.replace(",", "")                      # 1,500.00 → 1500.00
    elif "," in s:
        head, _, tail = s.partition(",")
        if "," not in tail and len(tail) == 2:
            s = head + "." + tail                       # 500,00 → 500.00
        else:
            s = s.replace(",", "")                      # 1,500 → 1500
    return float(s)


def extract_amounts(scan: Scan) -> tuple[list[float], list[str]]:
    """Currency-adjacent amounts in (0, 1e9) + 30/20-char labels.

    Reference: app/metadata_extractor_v2.py:177-226 (two patterns: symbol
    before amount, amount before symbol).
    """
    amounts: list[float] = []
    labels: list[str] = []
    for g in _AMOUNT_RES:
        for m in g.finditer(scan):
            try:
                value = _normalize_amount(m.group(1))
            except (ValueError, IndexError):
                continue
            if 0 < value < 1_000_000_000:
                amounts.append(value)
                labels.append(_tail_context(scan.text, m.start(), 30, 20))
    return amounts, labels


def extract_names(scan: Scan) -> tuple[list[str], list[str]]:
    """Capitalized 2–4 word runs, titles stripped, len>3 + contexts.

    Reference: app/metadata_extractor_v2.py:228-252.
    """
    names: list[str] = []
    contexts: list[str] = []
    for m in _NAME_RE.finditer(scan):
        parts = [
            w.rstrip(".") for w in m.group(0).split()
            if w.rstrip(".") not in P.NAME_TITLES
        ]
        cleaned = " ".join(parts)
        if cleaned and len(cleaned) > 3:
            names.append(cleaned)
            contexts.append(_tail_context(scan.text, m.start(), 30, 20))
    return names, contexts


def _found(m: re.Match):
    """What ``findall`` reports for one match."""
    if not m.re.groups:
        return m.group(0)
    groups = m.groups("")
    return groups[0] if len(groups) == 1 else groups


def _sorted_unique_matches(res: tuple[Gated, ...], scan: Scan) -> list:
    return sorted({_found(m) for g in res for m in g.finditer(scan)})


def metadata_confidence(md: dict) -> float:
    """Presence-weighted confidence in [0, 1].

    Weights (app/metadata_extractor_v2.py:325-363): dates .2, amounts .2,
    names .15, emails .15, phones .1, invoice|po .1, address|postal .1,
    tax .1, normalized by the 1.1 weight total.
    """
    score = 0.0
    if md["dates"]:
        score += 0.2
    if md["amounts"]:
        score += 0.2
    if md["names"]:
        score += 0.15
    if md["emails"]:
        score += 0.15
    if md["phones"]:
        score += 0.1
    if md["invoice_numbers"] or md["po_numbers"]:
        score += 0.1
    if md["addresses"] or md["postal_codes"]:
        score += 0.1
    if md["tax_ids"]:
        score += 0.1
    return score / 1.1


def extract_metadata(text: str) -> dict:
    """Full metadata dict for one document text.

    Keys = METADATA_FIELDS; ``dates`` holds ``datetime.date`` objects
    (DateType-compatible), everything else lists of str/float + the
    confidence double.  Never raises: any per-field failure yields the
    empty value for that field (the reference swallows at the extract()
    level, app/metadata_extractor_v2.py:405-407).
    """
    scan = Scan(text or "")
    dates, date_ctx = extract_dates(scan)
    amounts, amount_labels = extract_amounts(scan)
    names, name_ctx = extract_names(scan)
    md = {
        "dates": dates,
        "amounts": amounts,
        "names": names,
        "emails": _sorted_unique_matches((_EMAIL_RE,), scan),
        "phones": _sorted_unique_matches(_PHONE_RES, scan),
        "addresses": _sorted_unique_matches(_ADDRESS_RES, scan),
        "invoice_numbers": _sorted_unique_matches(_INVOICE_RES, scan),
        "po_numbers": _sorted_unique_matches(_PO_RES, scan),
        "postal_codes": _sorted_unique_matches(_POSTAL_RES, scan),
        "tax_ids": _sorted_unique_matches(_TAX_RES, scan),
        "date_contexts": date_ctx,
        "amount_labels": amount_labels,
        "name_contexts": name_ctx,
    }
    md["confidence"] = metadata_confidence(md)
    return md
