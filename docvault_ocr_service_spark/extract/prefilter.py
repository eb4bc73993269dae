"""Sound literal prefilters for the categorize and metadata regexes.

``Gated(rx)`` derives, once at import, a prefilter from the parse tree of
a compiled pattern (``re._parser`` over ``rx.pattern``/``rx.flags``):

- *clauses*: a conjunction of disjunctions of literals; every match
  contains one literal of each clause.  Alternations become literal
  sets, and short literal products are expanded, so ``ma(?:rch|y)``
  requires one of ``{"march", "may"}``;
- *needs_digit*: every match holds a ``\\d``;
- *leads*: literals (and/or a digit) one of which every match starts
  with, when the analysis can tell.

Literals are spelled in *gate text*: a text's ``str.lower()`` with the
characters ``re.IGNORECASE`` folds together (``re._casefix``: ``ı``/``i``,
``ſ``/``s``, Greek and Cyrillic variants) mapped to one representative,
and ``İ``, the one character whose ``str.lower()`` is two characters,
mapped to ``i`` first.  Gate text has the text's offsets, and a match of
any of these patterns, case-insensitive or not, spells one of each
clause's literals at the match's own offsets, on any text.

A pattern whose clauses fail on a text cannot match it and is skipped.
A pattern with leads is run with ``rx.match`` at the offsets where a
lead occurs, as long as those are few; ``match(text, pos)`` sees the real
characters before ``pos`` (``\\b``, lookbehind), so this yields exactly
what ``rx.finditer(text)`` yields.  A construct the analysis cannot
reduce adds no clause and no lead, which is always sound.
"""

from __future__ import annotations

import re
from itertools import product
from re import _casefix
from re import _constants as _C
from re import _parser
from typing import Iterator

__all__ = ["Gated", "Scan", "fold"]


def _fold_map() -> dict[int, str]:
    """Each ``re.IGNORECASE`` fold class of ``re._casefix`` (lowercase
    characters sharing an uppercase) → its smallest member."""
    out: dict[int, str] = {}
    for lo, others in _casefix._EXTRA_CASES.items():
        rep = min((lo,) + others)
        for code in (lo,) + others:
            if code != rep:
                out[code] = chr(rep)
    return out


_FOLD = _fold_map()
_FOLD_CHARS = tuple(map(chr, _FOLD))
# 'İ'.lower() is 'i' + U+0307; re.IGNORECASE folds 'İ' to 'i'
_WIDE = {0x130: "i"}


def fold(text: str) -> str | None:
    """Gate text of ``text``: same length, same offsets; or None when a
    character lowercases to several and no gate text exists."""
    return _gate(text, text.lower())


def _gate(text: str, low: str) -> str | None:
    if len(low) != len(text):
        low = text.translate(_WIDE).lower()
        if len(low) != len(text):
            return None
    if not low.isascii() and any(c in low for c in _FOLD_CHARS):
        low = low.translate(_FOLD)
    return low


_DIGIT_RE = re.compile(r"\d")


class Scan:
    """One text as every gated pattern reads it: the text, its
    ``str.lower()``, its gate text and the offsets of its digits."""

    __slots__ = ("text", "lower", "gate", "digits")

    def __init__(self, text: str) -> None:
        self.text = text
        self.lower = text.lower()
        self.gate = _gate(text, self.lower)
        self.digits = [m.start() for m in _DIGIT_RE.finditer(text)]


# -- the analysis -------------------------------------------------------------
# A node's info is (exact, clauses): ``exact`` is the set of every string
# the node can match, in gate spelling, or None when that set is unknown
# or larger than _LIMIT; ``clauses`` is the CNF every match satisfies.
# _DIGIT stands for "any \d" inside a clause or a lead set.

class _Digit:
    __slots__ = ()

    def __repr__(self) -> str:
        return "DIGIT"


_LIMIT = 64
_DIGIT = _Digit()
_ANY = (None, frozenset())
_EMPTY = (frozenset({""}), frozenset())
_REPEATS = (_C.MAX_REPEAT, _C.MIN_REPEAT, _C.POSSESSIVE_REPEAT)


def _cnf(info) -> frozenset:
    exact, clauses = info
    if exact is None:
        return clauses
    return frozenset() if "" in exact else frozenset({exact})


def _char(code: int) -> str | None:
    ch = fold(chr(code))
    return ch if ch is not None and len(ch) == 1 else None


def _is_digit_class(items) -> bool:
    return bool(items) and all(
        (op is _C.CATEGORY and av is _C.CATEGORY_DIGIT)
        or (op is _C.RANGE and 0x30 <= av[0] <= av[1] <= 0x39)
        for op, av in items)


def _charset(items):
    if _is_digit_class(items):
        return None, frozenset({frozenset({_DIGIT})})
    if not items or any(op is not _C.LITERAL for op, _ in items):
        return _ANY
    chars = frozenset(map(_char, (av for _, av in items)))
    return _ANY if None in chars else (chars, frozenset())


def _alternate(infos):
    if all(exact is not None for exact, _ in infos):
        union = frozenset().union(*(exact for exact, _ in infos))
        if len(union) <= _LIMIT:
            return union, frozenset()
    cnfs = [_cnf(i) for i in infos]
    if not all(cnfs):
        return _ANY
    n = 1
    for c in cnfs:
        n *= len(c)
    if n > _LIMIT:  # keep one clause per branch: the narrowest
        cnfs = [(min(c, key=lambda cl: (len(cl), sorted(map(repr, cl)))),)
                for c in cnfs]
    # a branch satisfies one of its clauses, so one of each pick holds
    return None, frozenset(frozenset().union(*pick)
                           for pick in product(*cnfs))


def _repeat(lo: int, hi, info):
    exact = info[0]
    if exact is not None and len(exact) ** lo <= _LIMIT:
        need = frozenset({""})
        for _ in range(lo):
            need = frozenset(x + y for x in need for y in exact)
        if lo == hi:
            return need, frozenset()
        if lo == 0 and hi == 1:
            return need | exact, frozenset()
        return None, _cnf((need, frozenset()))
    return _ANY if lo == 0 else (None, _cnf(info))


def _node(op, av):
    if op is _C.LITERAL:
        ch = _char(av)
        return _ANY if ch is None else (frozenset({ch}), frozenset())
    if op is _C.IN:
        return _charset(av)
    if op is _C.BRANCH:
        return _alternate([_seq(b) for b in av[1]])
    if op is _C.SUBPATTERN:
        return _seq(av[3])
    if op is _C.ATOMIC_GROUP:
        return _seq(av)
    if op in _REPEATS:
        return _repeat(av[0], av[1], _seq(av[2]))
    if op in (_C.AT, _C.ASSERT, _C.ASSERT_NOT):
        return _EMPTY  # zero width
    return _ANY


def _seq(items):
    """Concatenation: each maximal run of exact nodes is expanded into
    one literal set, so ``terms\\s+and`` requires "terms" and "and"."""
    clauses: frozenset = frozenset()
    run, whole = frozenset({""}), True
    for op, av in items:
        exact, cnf = _node(op, av)
        if exact is not None and len(run) * len(exact) <= _LIMIT:
            run = frozenset(x + y for x in run for y in exact)
            continue
        whole = False
        clauses |= _cnf((run, frozenset()))
        if exact is None:
            clauses |= cnf
            run = frozenset({""})
        else:
            run = exact
    if whole:
        return run, frozenset()
    return None, clauses | _cnf((run, frozenset()))


def _heads(op, av, exact):
    """Atoms one of which starts every match of a node that the lead
    walk could not absorb into its exact prefixes, or None."""
    if exact is not None:
        return None if "" in exact else exact
    if op is _C.IN and _is_digit_class(av):
        return frozenset({_DIGIT})
    if op is _C.SUBPATTERN:
        return _leads(av[3])
    if op is _C.ATOMIC_GROUP:
        return _leads(av)
    if op in _REPEATS and av[0] >= 1:
        return _leads(av[2])
    if op is _C.BRANCH:
        heads = [_leads(b) for b in av[1]]
        return None if None in heads else frozenset().union(*heads)
    return None


def _leads(items):
    """Atoms one of which starts every match of ``items``, or None."""
    prefixes = frozenset({""})
    for op, av in items:
        exact = _node(op, av)[0]
        if exact is not None and len(prefixes) * len(exact) <= _LIMIT:
            prefixes = frozenset(p + e for p in prefixes for e in exact)
            continue
        starts = prefixes - {""}
        if "" in prefixes:
            heads = _heads(op, av, exact)
            if heads is None:
                return None
            starts |= heads
        return starts
    return None if "" in prefixes else prefixes


def _anchor(items):
    """(atoms, offset): every match has one of ``atoms`` ``offset``
    characters after its start, or None.  Leading fixed-width nodes
    that give no atom are stepped over, so ``[A-Z]\\d`` anchors on the
    digit at offset 1."""
    offset = 0
    for i in range(len(items)):
        leads = _leads(items[i:])
        if leads is not None:
            return leads, offset
        lo, hi = items[i:i + 1].getwidth()
        if lo != hi:
            return None
        offset += lo
    return None


def _minimal(lits, implied) -> tuple[str, ...]:
    """Drop each literal that another one implies; sorted."""
    return tuple(sorted(a for a in lits
                        if not any(b != a and implied(b, a) for b in lits)))


class Gated:
    """A compiled pattern with its prefilter; ``finditer``/``search``
    give exactly what the pattern's own methods give."""

    __slots__ = ("rx", "clauses", "needs_digit", "leads", "digit_lead",
                 "offset")

    def __init__(self, rx: re.Pattern) -> None:
        self.rx = rx
        clauses, leads, self.offset = frozenset(), None, 0
        if isinstance(rx.pattern, str) and not rx.flags & re.LOCALE:
            items = _parser.parse(rx.pattern, rx.flags)
            clauses = _cnf(_seq(items))
            anchor = _anchor(items)
            if anchor is not None:
                leads, self.offset = anchor
        # a clause is met when the gate text contains one of its literals
        kept = {_minimal(c, lambda b, a: b in a)
                for c in clauses if _DIGIT not in c}
        self.clauses = tuple(sorted(
            (c for c in kept
             if not any(o != c and set(o) <= set(c) for o in kept)),
            key=lambda c: (-min(map(len, c)), c)))
        self.needs_digit = frozenset({_DIGIT}) in clauses
        self.digit_lead = bool(leads) and _DIGIT in leads
        self.leads = (_minimal(leads - {_DIGIT}, lambda b, a: a.startswith(b))
                      if leads else None)

    def admits(self, scan: Scan) -> bool:
        """False only when the pattern cannot match ``scan.text``."""
        if self.needs_digit and not scan.digits:
            return False
        gate = scan.gate
        return gate is None or all(any(lit in gate for lit in clause)
                                   for clause in self.clauses)

    def _starts(self, scan: Scan) -> list[int] | None:
        """Sorted offsets that include every match's start, or None when
        they are unknown or too many to beat one scan of the text (a
        ``match`` costs about what scanning 16 characters does)."""
        if self.leads is None or (self.leads and scan.gate is None):
            return None
        budget = len(scan.text) >> 4
        at = list(scan.digits) if self.digit_lead else []
        if len(at) > budget:
            return None
        gate = scan.gate
        for lit in self.leads:
            i = gate.find(lit)
            while i >= 0:
                at.append(i)
                if len(at) > budget:
                    return None
                i = gate.find(lit, i + 1)
        at.sort()
        off = self.offset
        return [i - off for i in at if i >= off] if off else at

    def finditer(self, scan: Scan) -> Iterator[re.Match]:
        """Exactly ``self.rx.finditer(scan.text)``."""
        if not self.admits(scan):
            return iter(())
        starts = self._starts(scan)
        if starts is None:
            return self.rx.finditer(scan.text)
        return _match_at(self.rx, scan.text, starts)

    def search(self, scan: Scan) -> bool:
        """Exactly ``self.rx.search(scan.text) is not None``."""
        return next(self.finditer(scan), None) is not None


def _match_at(rx: re.Pattern, text: str, starts: list[int]):
    end = 0
    for pos in starts:
        if pos >= end:
            m = rx.match(text, pos)
            if m is not None:
                end = m.end()
                yield m
