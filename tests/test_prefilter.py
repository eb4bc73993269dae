"""Differential soundness of the derived regex prefilters (prefilter.py).

The gated kernels must give exactly what an ungated pass gives:
``categorize_fast`` against ``categorize_detailed`` (every regex
searched), and ``extract_metadata`` against a plain ``finditer`` pass
over the same patterns written out below.  Inputs: the golden corpus,
generated corpus rows from several seed blocks (giants included), the
non-ASCII case-folding cases of the reference parity tests, ``©``-bearing
otherwise-ASCII texts, and texts respelled with the characters that
``re.IGNORECASE`` folds onto ASCII letters (``İ``, ``ı``, ``ſ``, Kelvin
``K``).  Every ungated match must also satisfy its pattern's prefilter.
"""

import importlib
import random
import re
import sys
from itertools import chain

import pytest
from hypothesis import given, settings, strategies as st

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.extract import patterns as P
from docvault_ocr_service_spark.extract.document import extract_document
from docvault_ocr_service_spark.extract.prefilter import Gated, Scan, fold

from test_reference_parity import _NONASCII_CASES, _WORDS

# ``extract/__init__`` re-exports functions under the module names
cat = importlib.import_module("docvault_ocr_service_spark.extract.categorize")
md = importlib.import_module("docvault_ocr_service_spark.extract.metadata")

_KELVIN = "\u212a"
# spellings re.IGNORECASE matches against ASCII i, s and k: dotted
# capital I, dotless i, long s, Kelvin sign
_RESPELL = {"i": ("\u0130", "\u0131", "I"), "s": ("\u017f", "S"),
            "k": (_KELVIN, "K")}


def _respell(text: str, rng: random.Random) -> str:
    """Swap about half the i/s/k letters for another spelling."""
    return "".join(rng.choice(_RESPELL[c.lower()])
                   if c.lower() in _RESPELL and rng.random() < 0.5 else c
                   for c in text)


def _corpus_texts(indices) -> list[str]:
    out = []
    for i in indices:
        row = corpus.generate_row(i)
        res = extract_document(row["url"], row["html"], row["text"],
                               row["lang"])
        if res["text"]:
            out.append(res["text"])
    return out


@pytest.fixture(scope="module")
def texts() -> list[str]:
    golden = _corpus_texts(range(120))
    # three seed blocks of generated rows; each block's row 0 is a giant
    rows = _corpus_texts([b * 10_000 + k for b in (7, 301, 4242)
                          for k in range(1000)])
    rng = random.Random(10)
    base = golden + rows
    respelled = [_respell(t[:3000], rng) for t in base[:600]]
    copyright = [t[:3000] + "\n© 2024 SiteName" for t in base[:300]]
    assert max(map(len, rows)) > 100_000, "no giant row in the sample"
    return base + respelled + copyright + list(_NONASCII_CASES)


def _gated_patterns():
    for _, _, gated in cat._CATEGORY_FAST_TABLE:
        yield from gated
    for name in ("_DATE_RES", "_AMOUNT_RES", "_PHONE_RES", "_POSTAL_RES",
                 "_INVOICE_RES", "_PO_RES", "_TAX_RES", "_ADDRESS_RES"):
        yield from getattr(md, name)
    yield md._EMAIL_RE
    yield md._NAME_RE


# -- the ungated reference ----------------------------------------------------

def _plain(patterns, flags=0):
    return [re.compile(p, flags) for p in patterns]


_PLAIN = {
    "dates": _plain(P.DATE_PATTERNS, re.IGNORECASE),
    "amounts": _plain(P.AMOUNT_PATTERNS, re.IGNORECASE),
    "phones": _plain(P.PHONE_PATTERNS),
    "postal_codes": _plain(P.POSTAL_PATTERNS),
    "invoice_numbers": _plain(P.INVOICE_PATTERNS, re.IGNORECASE),
    "po_numbers": _plain(P.PO_PATTERNS, re.IGNORECASE),
    "tax_ids": _plain(P.TAX_ID_PATTERNS, re.IGNORECASE),
    "addresses": _plain(P.ADDRESS_PATTERNS),
    "emails": _plain([P.EMAIL_PATTERN]),
}
_PLAIN_NAME = re.compile(P.NAME_PATTERN)


def plain_metadata(text: str) -> dict:
    """extract_metadata with no gate: every pattern, plain finditer."""
    out = {k: [] for k in md.METADATA_FIELDS if k != "confidence"}
    for rx in _PLAIN["dates"]:
        for m in rx.finditer(text):
            d = md._parse_date_cached(m.group(0))
            if d is not None and 1900 <= d.year <= 2100:
                out["dates"].append(d)
                out["date_contexts"].append(
                    md._tail_context(text, m.start(), 50, 30))
    for rx in _PLAIN["amounts"]:
        for m in rx.finditer(text):
            try:
                v = md._normalize_amount(m.group(1))
            except (ValueError, IndexError):
                continue
            if 0 < v < 1_000_000_000:
                out["amounts"].append(v)
                out["amount_labels"].append(
                    md._tail_context(text, m.start(), 30, 20))
    for m in _PLAIN_NAME.finditer(text):
        parts = [w.rstrip(".") for w in m.group(0).split()
                 if w.rstrip(".") not in P.NAME_TITLES]
        cleaned = " ".join(parts)
        if cleaned and len(cleaned) > 3:
            out["names"].append(cleaned)
            out["name_contexts"].append(
                md._tail_context(text, m.start(), 30, 20))
    for key in ("phones", "postal_codes", "invoice_numbers", "po_numbers",
                "tax_ids", "addresses", "emails"):
        out[key] = sorted({x for rx in _PLAIN[key] for x in rx.findall(text)})
    out["confidence"] = md.metadata_confidence(out)
    return out


def _assert_kernels_match(text: str) -> None:
    assert md.extract_metadata(text) == plain_metadata(text), text[:200]
    want = cat.categorize_detailed(text)
    assert cat.categorize_fast(text) == (
        want.primary_category, want.confidence, want.detected_languages), \
        text[:200]


# -- differential tests -------------------------------------------------------

def test_gated_kernels_equal_ungated_on_corpus(texts):
    for text in texts:
        _assert_kernels_match(text)


def test_every_ungated_match_satisfies_its_prefilter(texts):
    gated = list(_gated_patterns())
    seen = 0
    for text in texts:
        for g in gated:
            for m in g.rx.finditer(text):
                hit = Scan(m.group(0))
                assert g.admits(hit), (g.rx.pattern, m.group(0))
                if g.leads is not None:
                    head = hit.text[g.offset:]
                    assert (g.digit_lead and head[:1].isdecimal()) or any(
                        (hit.gate or "")[g.offset:].startswith(lit)
                        for lit in g.leads), (g.rx.pattern, m.group(0))
                seen += 1
    assert seen > 10_000


# each spelling of a lowercase gate literal re.IGNORECASE still matches
_SPELLINGS = (
    str.upper,
    lambda t: (t.replace("i", "\u0130").replace("s", "\u017f")
               .replace("k", _KELVIN)),
    lambda t: t.upper().replace("I", "\u0131").replace("S", "\u017f"),
)


def test_respelled_gate_literals(texts):
    """Each gate literal in upper case and spelled with İ/ı/ſ/Kelvin-K,
    alone and inside a corpus text."""
    rng = random.Random(11)
    hosts = [t for t in texts[:400] if len(t) < 5000]
    lits = sorted({lit for g in _gated_patterns()
                   for lit in chain(*g.clauses, g.leads or ())})
    assert len(lits) > 150
    for lit in lits:
        for variant in {spell(lit) for spell in _SPELLINGS}:
            host = rng.choice(hosts)
            k = rng.randrange(len(host) + 1)
            _assert_kernels_match(f"{variant} 12 {variant}: 2024-03-15 $5")
            _assert_kernels_match(host[:k] + variant + host[k:])


_TOKENS = _WORDS + [
    "\u0130NV-7", "\u0131nvoice", "\u017ftatement", f"{_KELVIN}wota",
    "©", "\u03a3", "\u03c2", "\u00b5", "\u0661\u0662\u0663",
    "Mar.", "MAY", "12 May 2024",
    "March 3, 2021", "zł", "PLN", "₹12", "(555)", "+1", "A1B 2C3",
    "NIP 1234567890", "FV/2024/1", "Fakt 9", "P.O. 77", "Zamówienie 5",
    "invoice #12", "ul. Długa", "12 Main Street", "___", ":", "-", "/",
]


@given(st.lists(st.sampled_from(_TOKENS), max_size=40),
       st.sampled_from([" ", "\n", "", "  "]))
@settings(max_examples=300, deadline=None)
def test_gated_kernels_equal_ungated_on_token_soup(tokens, sep):
    _assert_kernels_match(sep.join(tokens))


# -- the mechanism ------------------------------------------------------------

_SYNTHETIC = [
    (r"ma(?:rch|y)\s+\d+", re.I), (r"\b(?:this|hereby)\s+certifies", re.I),
    (r"(?:sub)?total\s*[$€]", re.I), (r"\b[A-Z]\d[A-Z]", 0),
    (r"\+?\d{1,3}[-.\s]?\(?\d{3}", 0), (r"(?<=x)ab|cd(?=y)", 0),
    (r"(?>ab|a)c", re.I), (r"a{2,3}b", re.I), (r"(a)?\1?b", 0),
    (r"k\w+s", re.I), (r"^is\b", re.I | re.M), (r"\bsi(?:gn)?", re.I),
    (r"[ks]ey", re.I), (r"ſi", re.I), (r"İx", re.I), (r"[^a]b", 0),
    (r"(?i:ki)S", 0), (r"\d\d?\.", 0), (r"..[0-9]", 0), (r"", 0),
]
_ALPHABET = ("aAbBcdkKsSiIxy $€.-\n12"
             "\u0130\u0131\u017f\u212a\u0307\u03a3\u03c3\u03c2\u00b5"
             "\u039c\u0663")


@given(st.sampled_from(_SYNTHETIC), st.text(_ALPHABET, max_size=60))
@settings(max_examples=600, deadline=None)
def test_gated_finditer_equals_finditer(case, text):
    pattern, flags = case
    rx = re.compile(pattern, flags)
    g = Gated(rx)
    # short texts scan whole; trailing blanks raise the candidate budget
    # so the match-at-candidates route runs too
    for t in (text, text + " " * 1024):
        scan = Scan(t)
        want = [(m.span(), m.groups()) for m in rx.finditer(t)]
        assert [(m.span(), m.groups()) for m in g.finditer(scan)] == want
        assert g.search(scan) == (rx.search(t) is not None)


def test_gate_text_is_the_ignorecase_fold_of_every_character():
    """fold() maps each code point to one character, the same for every
    pair re.IGNORECASE matches: lowercase (sre's simple mapping) then
    one representative per re._casefix class."""
    from re import _casefix
    import _sre

    rep = {}
    for lo, others in _casefix._EXTRA_CASES.items():
        for code in (lo,) + others:
            rep[code] = min((lo,) + others)
    chars = "".join(map(chr, range(sys.maxunicode + 1)))
    got = fold(chars)
    assert got is not None and len(got) == len(chars)
    for cp in range(sys.maxunicode + 1):
        lo = _sre.unicode_tolower(cp)
        assert ord(got[cp]) == rep.get(lo, lo), hex(cp)


def test_match_at_candidates_edge_cases():
    """match(text, pos) sees the character before pos, and a match may
    start right where the previous one ended."""
    rx = re.compile(r"\b\d+")
    assert rx.match("a1", 1) is None
    assert rx.match(" 1", 1) is not None
    filler = " " * 1024
    for pattern, text in ((r"\b\d+", "a1 2 3"), (r"\d\d?\.", "1.2.34.5"),
                          (r"(?:ab|a)c", "acabcac"), (r"[A-Z]\d", "A1B2c3")):
        rx = re.compile(pattern)
        want = [m.span() for m in rx.finditer(text + filler)]
        assert len(want) > 1
        got = [m.span() for m in Gated(rx).finditer(Scan(text + filler))]
        assert got == want, pattern


def test_derived_prefilters_are_tight_where_it_matters():
    by_pattern = {g.rx.pattern: g for g in _gated_patterns()}
    months = by_pattern[P.DATE_PATTERNS[-1]]
    assert "march" not in months.leads and "mar" in months.leads
    assert months.needs_digit
    certifies = by_pattern[r"(?:this|hereby)\s+certifies\s+that"]
    assert ("hereby", "this") in certifies.clauses
    iso = by_pattern[P.DATE_PATTERNS[0]]
    assert iso.digit_lead and iso.leads == ()
    canadian = by_pattern[P.POSTAL_PATTERNS[1]]
    assert canadian.digit_lead and canadian.offset == 1
