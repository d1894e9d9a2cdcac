"""Attribute-condition DSL: parse + evaluate.

Re-expresses the reference's SQL-ish condition language
(/root/reference/src/ParseHTML.php:2055-2207):

- grammar: ``cond (AND cond)*`` groups OR'd together -- ``' OR '`` split
  first, then ``' AND '``; OR-of-ANDs only, no parentheses [:2057-2067]
- each atom is ``field <op> value`` matched by one case-insensitive regex
  with the operator alternation in a fixed order [:2085-2091]
- quotes around the value are stripped (+ backslash unescaping) [:2139-2144]
- an atom that does not parse evaluates TRUE [:2206]
- a missing attribute evaluates FALSE for every operator [:2201-2204]
- field names are compared case-SENSITIVELY against the (lowercased)
  attribute map, so only lowercase field names can match [:2145]
- =, !=, <, >, <=, >= use PHP loose comparison: numeric when both sides
  are numeric literals, else byte-wise string comparison [:2152-2169]
- ~= / ~~= split both sides on single whitespace chars (empty tokens kept,
  like preg_split without NO_EMPTY) and intersect [:2147-2150, 2173-2178]
- *=, ^=, $= and negations are case-INSENSITIVE substring/prefix/suffix;
  |= is case-sensitive ``^v$|^v-\\w+`` [:2170-2196]
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Callable, NamedTuple

# spellings of each operator, canonical spelling first; flattened in this
# order they are the regex alternation, whose order decides ties [:2085-2091]
_OP_SPELLINGS = [
    ("=", "equals", "is"),
    ("!=", "is not"),
    ("<", "is less than"),
    (">", "is greater than"),
    ("<=", "is less than or equals"),
    (">=", "is greater than or equals"),
    ("|=", "contains prefix"),
    ("~=", "contains word", "contains any word"),
    ("~~=", "contains all word"),
    ("!*=", "does not contain"),
    ("*=", "contains"),
    ("!^=", "does not start with"),
    ("^=", "starts with"),
    ("!$=", "does not end with"),
    ("$=", "ends with"),
]
OPERATORS = [op for spellings in _OP_SPELLINGS for op in spellings]
_CANONICAL = {op: spellings[0] for spellings in _OP_SPELLINGS for op in spellings}

_OP_ALT = "|".join(re.escape(op) for op in OPERATORS)
ATOM_RE = re.compile(r"^(.+)\s+(" + _OP_ALT + r")\s+(.+)$", re.IGNORECASE | re.DOTALL)
_QUOTED_RE = re.compile(r"^(['\"])(.*)(['\"])$", re.IGNORECASE | re.DOTALL)
_NUMERIC_RE = re.compile(r"^[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?$")
_WS_SPLIT = re.compile(r"\s")


def split_or_and(conditions: str) -> list[list[str]]:
    """Split a condition string into OR groups of AND atoms (literal splits)."""
    ors = conditions.split(" OR ") if " OR " in conditions else [conditions]
    return [grp.split(" AND ") if " AND " in grp else [grp] for grp in ors]


def _strip_quotes(value: str) -> str:
    m = _QUOTED_RE.match(value)
    if m and m.group(1) == m.group(3):
        # stripslashes: drop backslashes, '\\\\' -> '\\'
        return re.sub(r"\\(.)", r"\1", m.group(2))
    return value


def _is_numeric(s: str) -> bool:
    return bool(_NUMERIC_RE.match(s.strip()))


def loose_cmp(a: str, b: str) -> int:
    """PHP-8-style loose comparison pinned to: numeric iff both sides are
    numeric literals, else byte-wise string comparison."""
    if _is_numeric(a) and _is_numeric(b):
        fa, fb = float(a), float(b)
        return -1 if fa < fb else (1 if fa > fb else 0)
    return -1 if a < b else (1 if a > b else 0)


class CompiledAtom(NamedTuple):
    """One parsed atom: ``test(actual)`` runs on the attribute value
    (None already mapped to ''). ``needle`` is a tuple of
    ``(literal, ignore_case)`` alternatives, one of which occurs inside
    every value the test accepts, or None when no such literal exists."""

    field: str
    test: Callable[[str], bool]
    needle: tuple[tuple[str, bool], ...] | None


_LOOSE = {
    "=": lambda c: c == 0,
    "!=": lambda c: c != 0,
    "<": lambda c: c < 0,
    ">": lambda c: c > 0,
    "<=": lambda c: c <= 0,
    ">=": lambda c: c >= 0,
}


def _compile_test(op: str | None, value: str):
    """(test, needle) of one canonical operator and unquoted value.

    The needle is a literal that every value the test accepts contains,
    so the matcher may drop any node whose start tag lacks it (values
    are contiguous runs of their start tag). Per operator:

    - ``*=``, ``^=``, ``$=``: ``value``, case-insensitive -- the very
      ``re.escape(value)`` + IGNORECASE pattern the test uses. Never a
      ``.lower()`` substring test: ``re.I`` matches ``s`` against the
      long s ``ſ``, but ``'s' in 'ſ'.lower()`` is False.
    - ``|=``: ``value``, case-sensitive, as the test is.
    - ``~=`` / ``~~=``: any value word, since an accepted value shares
      at least one; none if a value word is empty (an empty word is
      met by an empty value or by two adjacent whitespace chars).
    - ``=``, ``!=``, ``<``, ``>``, ``<=``, ``>=``: none, because loose
      compare is numeric when both sides are (``'1.0'`` equals ``'1'``).
    - ``!*=``, ``!^=``, ``!$=``: none, because a negation accepts values
      that lack the literal.

    An empty literal is no needle."""
    if op is None:
        # ATOM_RE is case-insensitive over Unicode, so 'iſ' (long s)
        # matches the 'is' spelling but lowercases to no operator: the
        # atom parses and evaluates FALSE
        return (lambda a: False), None
    if op in _LOOSE:
        ok = _LOOSE[op]
        return (lambda a: ok(loose_cmp(a, value))), None
    lit = ((value, op != "|="),) if value else None
    esc = re.escape(value)
    if op == "|=":
        search = re.compile("(?:^" + esc + "$|^" + esc + r"\-\w+)").search
        return (lambda a: search(a) is not None), lit
    if op in ("~=", "~~="):
        values = _WS_SPLIT.split(value)
        vset = set(values)
        words = None if "" in vset else tuple((w, False) for w in sorted(vset))
        if op == "~=":
            return (lambda a: not vset.isdisjoint(_WS_SPLIT.split(a))), words
        # PHP count(array_intersect($words,$values)) == count($values):
        # word-tokens are counted with duplicates, so "a b a" fails "a b".
        n = len(values)
        return (
            lambda a: sum(1 for w in _WS_SPLIT.split(a) if w in vset) == n
        ), words
    if op in ("^=", "!^="):
        find = re.compile(esc, re.IGNORECASE).match
    elif op in ("$=", "!$="):
        find = re.compile(esc + "$", re.IGNORECASE).search
    else:  # *= / !*=
        find = re.compile(esc, re.IGNORECASE).search
    if op[0] == "!":
        return (lambda a: find(a) is None), None
    return (lambda a: find(a) is not None), lit


@lru_cache(maxsize=2048)
def compile_atom(atom: str) -> CompiledAtom | None:
    """Parse one DSL atom; None when it does not parse (evaluates TRUE)."""
    m = ATOM_RE.match(atom.strip())
    if not m:
        return None
    op = _CANONICAL.get(m.group(2).lower())
    test, needle = _compile_test(op, _strip_quotes(m.group(3)))
    return CompiledAtom(m.group(1), test, needle)


@lru_cache(maxsize=1024)
def compile_conditions(conditions: str) -> tuple[tuple[CompiledAtom, ...], ...]:
    """OR groups of parsed AND atoms. Unparsable atoms evaluate TRUE, so
    they are dropped from their group (a group left empty is TRUE)."""
    return tuple(
        tuple(c for c in map(compile_atom, group) if c is not None)
        for group in split_or_and(conditions)
    )


def parse_fields(conditions: str) -> list[str]:
    """Field names of every parsable atom (they select the scan candidates)."""
    return [c.field for group in compile_conditions(conditions) for c in group]


def _atom_true(attrs: dict[str, str | None], c: CompiledAtom) -> bool:
    if c.field not in attrs:
        return False  # missing attribute -> FALSE, for every operator
    actual = attrs[c.field]
    return c.test("" if actual is None else actual)


def eval_groups(attrs: dict[str, str | None], groups) -> bool:
    """OR-of-ANDs over compiled groups; empty attrs -> False."""
    if not attrs:
        return False
    for group in groups:
        for c in group:
            if not _atom_true(attrs, c):
                break
        else:
            return True
    return False


def eval_atom(attrs: dict[str, str | None], atom: str) -> bool:
    """Evaluate one DSL atom against an attribute map."""
    c = compile_atom(atom)
    return True if c is None else _atom_true(attrs, c)  # unparsable -> TRUE


def eval_conditions(attrs: dict[str, str | None], conditions: str | None) -> bool:
    """Full OR-of-ANDs evaluation; empty attrs -> False, empty conds -> True."""
    if not attrs:
        return False
    if not conditions:
        return True
    return eval_groups(attrs, compile_conditions(conditions))


def build_conditions(attributes) -> str:
    """Selector atoms -> DSL string (name op value AND ...), as the
    reference's buildConditions does [:1832-1839]."""
    return " AND ".join(
        " ".join((a.name, a.operator, a.value)) for a in attributes
    )
