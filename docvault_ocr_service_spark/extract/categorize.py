"""Document categorization + language detection (pure Python, no Spark).

Score-compatible with the reference's v2 categorizer
(``/root/reference/app/document_categorizer_v2.py``): per category,
``min(0.15 * keyword_hits, 0.6) + min(0.2 * pattern_hits, 0.7)`` capped at
1.0 (``:108-149``); primary = argmax, ``< 0.25`` → ``unknown``
(``:242-244``); empty/short (<3 stripped chars) text → ``unknown``/0.0
(``:213-220``).

Canonicalization vs the reference: argmax ties break by *lexicographic
category name* (the reference iterates a hash-seed-ordered set —
``:71-76`` — so its tie-break is nondeterministic; its tests only cover
clear winners).

Gate rule of the hot path (``categorize_fast``): each category regex
carries the prefilter ``prefilter.Gated`` derives from its parse tree,
the only gate.  A regex is searched only when the text's gate text (its
lowercase, with what ``re.IGNORECASE`` folds together mapped to one
character, so sound on any text, ASCII or not) holds a literal of every
clause; one whose matches all start at a known literal is tried with
``match`` at those offsets only.  ``categorize_detailed`` searches every
regex and is the differential oracle (``tests/test_prefilter.py``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import patterns as P
from .prefilter import Gated, Scan

# Precompiled per-category tables: (name, lowered keywords, compiled regexes)
_CATEGORY_TABLE: tuple[tuple[str, tuple[str, ...], tuple[re.Pattern, ...]], ...] = tuple(
    (
        name,
        tuple(kw.lower() for kw in kws),
        tuple(re.compile(p, re.IGNORECASE | re.MULTILINE) for p in pats),
    )
    for name, (kws, pats) in P.CATEGORIES.items()
)

# (name, keywords, gated regexes) for the fast scorer
_CATEGORY_FAST_TABLE = tuple(
    (name, keywords, tuple(Gated(rx) for rx in regexes))
    for name, keywords, regexes in _CATEGORY_TABLE
)

CATEGORY_NAMES: tuple[str, ...] = tuple(name for name, _, _ in _CATEGORY_TABLE)

# (lowered needle, vote weight) per language for detect_languages
_LANG_VOTE_TABLE: dict[str, tuple[tuple[str, int], ...]] = {
    lang: tuple(
        [(kw.lower(), 1) for kw in P.DATE_CTX_BY_LANG[lang]]
        + [(kw.lower(), 1) for kw in P.AMOUNT_CTX_BY_LANG[lang]]
        + [(m.lower(), 2) for m in P.MONTH_NAMES_BY_LANG[lang]]
    )
    for lang in P.LANGS
}

UNKNOWN_THRESHOLD = 0.25
KEYWORD_WEIGHT, KEYWORD_CAP = 0.15, 0.6
PATTERN_WEIGHT, PATTERN_CAP = 0.2, 0.7


@dataclass
class CategoryResult:
    """Mirrors app/document_categorizer_v2.py:17-24."""
    primary_category: str
    confidence: float
    all_categories: dict[str, float] = field(default_factory=dict)
    indicators: list[str] = field(default_factory=list)
    detected_languages: list[str] = field(default_factory=list)


def category_score(text: str, text_lower: str,
                   keywords: tuple[str, ...],
                   regexes: tuple[re.Pattern, ...]) -> tuple[float, list[str]]:
    """One category's score + matched indicators (reference :108-149)."""
    indicators: list[str] = []
    kw_hits = 0
    for kw in keywords:
        if kw in text_lower:
            kw_hits += 1
            indicators.append(kw)
    score = min(kw_hits * KEYWORD_WEIGHT, KEYWORD_CAP) if kw_hits else 0.0
    pat_hits = 0
    for rx in regexes:
        if rx.search(text):
            pat_hits += 1
            indicators.append(f"pattern:{rx.pattern[:30]}...")
    if pat_hits:
        score += min(pat_hits * PATTERN_WEIGHT, PATTERN_CAP)
    return min(score, 1.0), indicators


# hits beyond these leave min(hits*w, cap) unchanged, so the fast scorer
# may stop counting there without altering any score
_KW_SAT = int(KEYWORD_CAP / KEYWORD_WEIGHT)    # 4
_PAT_SAT = int(PATTERN_CAP / PATTERN_WEIGHT)
while _PAT_SAT * PATTERN_WEIGHT < PATTERN_CAP:
    _PAT_SAT += 1


def _fast_score(kw_hits: int, pat_hits: int) -> float:
    """category_score()'s arithmetic; non-decreasing in both counts."""
    score = min(kw_hits * KEYWORD_WEIGHT, KEYWORD_CAP)
    score += min(pat_hits * PATTERN_WEIGHT, PATTERN_CAP)
    return min(score, 1.0)


def _category_score_fast(scan: Scan, keywords: tuple[str, ...],
                         gated: tuple[Gated, ...], beat: float) -> float:
    """category_score()[0] when that is above ``beat``, else some value
    not above ``beat``: no indicators, counting stops at the weight
    caps, and a category that cannot score above ``beat`` even if every
    keyword or pattern left hit stops early.  A regex runs only when its
    prefilter admits the text."""
    if _fast_score(len(keywords), len(gated)) <= beat:
        return beat
    text_lower = scan.lower
    kw_hits = 0
    for kw in keywords:
        if kw in text_lower:
            kw_hits += 1
            if kw_hits >= _KW_SAT:
                break
    if _fast_score(kw_hits, len(gated)) <= beat:
        return beat
    pat_hits = 0
    for g in gated:
        if g.search(scan):
            pat_hits += 1
            if pat_hits >= _PAT_SAT:
                break
    return _fast_score(kw_hits, pat_hits)


def detect_languages(text_lower: str) -> list[str]:
    """Keyword-vote language ID (reference :151-187).

    date-context + amount-context keywords ×1, month names ×2; a language
    is detected at ≥3 votes; no detections → every configured language.
    (The vote loop stops at 3 — only the threshold matters.)
    """
    detected: list[str] = []
    for lang in P.LANGS:
        votes = 0
        for kw in _LANG_VOTE_TABLE[lang]:
            if kw[0] in text_lower:
                votes += kw[1]
                if votes >= 3:
                    detected.append(lang)
                    break
    return detected if detected else list(P.LANGS)


def categorize_detailed(text: str) -> CategoryResult:
    """Full categorization (reference :203-255)."""
    if not text or len(text.strip()) < 3:
        return CategoryResult("unknown", 0.0, {"unknown": 0.0}, [], [])

    text_lower = text.lower()
    detected = detect_languages(text_lower)

    scores: dict[str, float] = {}
    indicators_by_cat: dict[str, list[str]] = {}
    for name, keywords, regexes in _CATEGORY_TABLE:
        score, indicators = category_score(text, text_lower, keywords, regexes)
        scores[name] = score
        indicators_by_cat[name] = indicators

    # argmax; ties break lexicographically (our canonical rule)
    primary = max(sorted(scores), key=scores.get)
    confidence = scores[primary]
    if confidence < UNKNOWN_THRESHOLD:
        primary = "unknown"

    return CategoryResult(
        primary_category=primary,
        confidence=confidence,
        all_categories=scores,
        indicators=indicators_by_cat.get(primary, []),
        detected_languages=detected,
    )


def categorize(text: str) -> str:
    """Primary category label only (reference :189-201)."""
    return categorize_detailed(text).primary_category


def categorize_fast(text: str) -> tuple[str, float, list[str]]:
    """Hot-path categorization → (primary, confidence, detected_langs).

    Numerically identical to categorize_detailed (same scores, same
    tie-break, same threshold) but skips indicator bookkeeping,
    short-circuits scoring at the weight caps, skips a category that
    cannot beat the best score so far, and runs a regex only when its
    prefilter admits the text (prefilter.py: the one gate, sound on any
    text).  Pinned equal by tests.
    """
    if not text or len(text.strip()) < 3:
        return "unknown", 0.0, []

    scan = Scan(text)
    best_name = "unknown"
    best_score = -1.0
    for name, keywords, gated in _CATEGORY_FAST_TABLE:
        score = _category_score_fast(scan, keywords, gated, best_score)
        if score > best_score:  # table is in sorted name order → lex ties
            best_name, best_score = name, score
    primary = best_name if best_score >= UNKNOWN_THRESHOLD else "unknown"
    return primary, best_score, detect_languages(scan.lower)
