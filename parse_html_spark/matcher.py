"""Selector evaluation over a DocIndex.

Re-expresses the reference's ``finder`` dispatch
(/root/reference/src/ParseHTML.php:1660-1785) as array operations over the
node index. As in the reference, each dispatch kind is one of the public
physical scans, built here once by its own constructor: ``_compile(tag,
())`` (getElementByTag), ``_id_scan``, ``_class_scan``, ``_presence_scan``
and ``_conditions_scan``. ``dom``'s static getElementBy* API calls these
directly, and ``_match_in_range`` is the one element lookup that ``dom``
and ``extract`` run. Dispatch rules preserved exactly:

- tag + attribute atoms -> candidates must satisfy the full condition DSL
  AND the compound must contain at least one *parsable* atom (an
  all-presence atom set with a tag matches nothing, because
  getElementByAttributes finds no candidate fields) [:1714-1721, :2092-2098]
- lone ``#id`` (no tag, single atom named id) -> strict string equality,
  first match per scope, regardless of the atom's operator [:1726-1730,
  :2238-2247]
- lone ``.class`` -> class-word AND logic (value spaces become AND)
  [:1732-1736, :2212-2233]
- lone bare ``[attr]`` -> case-insensitive presence scan [:1738-1742]
- everything else -> the condition DSL of conditions.py
- an empty compound (from ``'a , b'``) matches nothing [:1692 falsy shift]

Scan first, like the reference (stripos over the raw string, then
validateInsideStartTag [:1551-1607]). Each compound is compiled once per
process into its dispatch, its predicate and a *needle*: a regex that
occurs inside the start tag of every node the compound can match. One
C-level ``needle.search`` pass over the raw HTML then yields the
candidates; a hit at offset s belongs to the last node starting at or
before s, and only if it ends inside that node's start tag. The full
per-node predicate still runs on every surviving candidate, so the scan
only drops nodes that cannot match and every pinned quirk stays.

Soundness: ``parse_attrs`` builds each attribute value from one
contiguous run of its start tag [:1317-1408], so any literal that a
value must contain occurs inside the start tag too. Needles:

- lone ``#id``: the value itself (strict equality), if non-empty;
- lone ``.class``: per OR group, its longest word; none if any word is
  empty (the empty word matches a missing class attribute);
- lone ``[attr]``: the presence pattern itself;
- DSL atoms: ``CompiledAtom.needle``, given only where every value the
  operator accepts holds one fixed literal -- so the loose comparisons
  (numeric for numbers) and the negations get none. The rule for each
  operator and its argument sit with the operator tests, in
  ``conditions._compile_test``.

An AND group takes its most selective atom needle; several OR groups
join theirs in one alternation, and a group without one leaves the whole
compound without one (tag index or full candidate pass, as before).

Divergence (SURVEY.md 2.11 A.8, documented): direct-child ``>`` is
CSS-correct here -- the reference also matches the selector deeper inside
the direct child because it re-searches a padded pseudo-element
[:1796-1823]. Fixtures are constructed in the agreement region.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from functools import lru_cache
from typing import Callable, NamedTuple

from .conditions import (
    build_conditions,
    compile_conditions,
    eval_groups,
    split_or_and,
)
from .selector import Atom, Compound
from .tokenizer import KNOWN_TAGS, DocIndex

_WS_SPLIT = re.compile(r"\s")

# R-quirk (reference getElementByAttribute -> validateStartTag
# [:504, :1481-1488]): attribute-dispatched scans only accept elements
# whose tag is in the 107-tag HTML whitelist; the tag-dispatched scan
# does NOT validate (the check is commented out at [:756-758]). So
# '[title]' never matches <custom-tag title=x>, but 'custom-tag' does.


def _class_match(attrs: dict, groups) -> bool:
    # missing or bare class attribute behaves as the word list [''] (PHP
    # preg_split(null) -> ['']), so only the empty word matches it
    cls = attrs.get("class")
    words = _WS_SPLIT.split(cls) if cls is not None else [""]
    for ands in groups:
        if all(a in words for a in ands):
            return True
    return False


def class_word_match(attrs: dict, conditions: str) -> bool:
    """getElementByClass word logic: AND/OR of class-word membership,
    case-sensitive [:2212-2233]. Missing class attribute -> no match."""
    return _class_match(attrs, split_or_and(conditions))


class _Compiled(NamedTuple):
    """One element scan, compiled once per process (see ``_compile``)."""

    nothing: bool  # matches no node at all
    tag: str | None  # lowercased tag every match carries
    whitelist: bool  # attribute dispatch: only KNOWN_TAGS nodes qualify
    test: Callable[[DocIndex, int], bool] | None  # per-node predicate
    first: bool  # lone #id: first match per scope only
    needle: re.Pattern | None  # occurs in every match's start tag


_NOTHING = _Compiled(True, None, False, None, False, None)


def _needle_re(alternatives) -> re.Pattern | None:
    """One regex over ``(literal, ignore_case)`` alternatives, one tuple
    per OR group; None when some group has no needle. Shortest first: at
    a given position the alternation then stops at the earliest end, so
    a hit rejected for running past its start tag rejects them all."""
    if not alternatives or any(alt is None for alt in alternatives):
        return None
    alts = sorted({lit for alt in alternatives for lit in alt},
                  key=lambda li: (len(li[0]), li))
    return re.compile("|".join(
        ("(?i:%s)" if icase else "%s") % re.escape(lit) for lit, icase in alts
    ))


def _group_needle(group):
    """Most selective atom needle of an AND group (every atom must hold)."""
    needles = [c.needle for c in group if c.needle is not None]
    return max(needles, key=lambda n: min(len(lit) for lit, _ in n), default=None)


@lru_cache(maxsize=1024)
def _id_scan(value: str) -> _Compiled:
    """getElementById: strict ===, first match, break [:2242-2244]."""
    needle = _needle_re([((value, False),)]) if value else None
    return _Compiled(
        False, None, True,
        lambda doc, j: doc.attrs(j).get("id") == value, True, needle,
    )


@lru_cache(maxsize=1024)
def _class_scan(conditions: str) -> _Compiled:
    """getElementByClass: 'a AND b OR c' class words, split by
    ``split_or_and``."""
    groups = tuple(map(tuple, split_or_and(conditions)))
    words = [w for ands in groups for w in ands]
    needle = None if "" in words else _needle_re(
        [((max(ands, key=len), False),) for ands in groups]
    )
    return _Compiled(
        False, None, True,
        lambda doc, j: _class_match(doc.attrs(j), groups), False, needle,
    )


@lru_cache(maxsize=1024)
def _presence_scan(name: str) -> _Compiled:
    """getElementByAttribute. R-quirk 11: the reference's TEXTUAL scan --
    whitespace + name substring anywhere inside the start tag
    (case-insensitive), so ' title' inside an attribute VALUE also
    matches [:488-493]. Well-formed attributes always satisfy this; the
    quirk only widens pathological cases."""
    pat = re.compile(r"\s" + re.escape(name), re.IGNORECASE)
    return _Compiled(
        False, None, True,
        lambda doc, j: pat.search(doc.starttag(j)) is not None, False, pat,
    )


@lru_cache(maxsize=1024)
def _conditions_scan(tag: str | None, conditions: str) -> _Compiled:
    """getElementByAttributes: the condition DSL, on ``tag`` nodes only
    when given (lowercase)."""
    groups = compile_conditions(conditions)
    # no parsable atom -> no candidates in the reference [:2092-2098];
    # a parsable atom routes a tagged compound through validateStartTag,
    # so 'blink[data-n>1]' matches nothing (blink is not whitelisted)
    # while bare 'blink' matches [:756 callback, :504, :1481-1488]
    if not any(groups) or (tag is not None and tag not in KNOWN_TAGS):
        return _NOTHING
    return _Compiled(
        False, tag, tag is None,
        lambda doc, j: eval_groups(doc.attrs(j), groups), False,
        _needle_re([_group_needle(g) for g in groups]),
    )


@lru_cache(maxsize=1024)
def _compile(tag: str | None, atoms: tuple[Atom, ...]) -> _Compiled:
    """The finder dispatch of one compound onto its reference scan
    [:1714-1742]. Keyed on the hashable (tag, atoms) pair, never on the
    mutable Compound."""
    want = tag.lower() if tag is not None else None
    if not atoms:
        return _Compiled(False, want, False, None, False, None)
    if want is None and len(atoms) == 1:
        atom = atoms[0]
        if atom.name == "id":
            return _id_scan(atom.value)
        if atom.name == "class":
            return _class_scan(atom.value.replace(" ", " AND "))
        if atom.is_presence:
            return _presence_scan(atom.name)
    return _conditions_scan(want, build_conditions(atoms))


def _compiled(comp: Compound) -> _Compiled:
    return _compile(comp.tag, tuple(comp.attributes))


def _matches(doc: DocIndex, cp: _Compiled, i: int) -> bool:
    if cp.nothing:
        return False
    t = doc.tag[i]
    if cp.tag is not None and t != cp.tag:
        return False
    if cp.whitelist and t not in KNOWN_TAGS:
        return False
    return cp.test is None or cp.test(doc, i)


def _scan(doc: DocIndex, needle: re.Pattern, a: int, b: int) -> list[int]:
    """Ids in [a, b) whose start tag holds a needle hit, ascending. A hit
    at s belongs to node j, the last node starting at or before s, and
    counts only if it ends inside j's start tag. A hit that starts in
    that tag but runs past its end resumes the scan at s + 1, so
    overlapping occurrences (and needles holding '<') are not skipped.
    Any other hit -- kept, or in j's text -- resumes at the next node's
    start: no hit before it can belong to another node. So each node
    costs at most one hit past its start tag, however often the needle
    occurs in its text."""
    start_l = doc.start_l
    cstart_l = doc.cstart_l
    search = needle.search
    html = doc.html
    pos, stop = start_l[a], cstart_l[b - 1]
    out: list[int] = []
    while True:
        m = search(html, pos, stop)
        if m is None:
            return out
        s = m.start()
        j = bisect_right(start_l, s) - 1
        if s < cstart_l[j]:
            if m.end() > cstart_l[j]:
                pos = s + 1
                continue
            if a <= j < b:
                out.append(j)
        j += 1
        if j >= b:
            return out
        pos = start_l[j]


def _match_in_range(doc: DocIndex, cp: _Compiled, lo: int, hi: int) -> list[int]:
    """Ids of the nodes starting in [lo, hi) that ``cp`` matches,
    ascending: the one element lookup every module runs."""
    if cp.nothing:
        return []
    # candidate ids via C bisect on the list twin (node starts are
    # sorted); plain-int ranges, no numpy boxing in the per-doc hot path
    start_l = doc.start_l
    a = bisect_left(start_l, lo)
    b = bisect_left(start_l, hi)
    if a >= b:
        return []
    tag = doc.tag
    want = cp.tag
    if cp.needle is not None:
        cand = _scan(doc, cp.needle, a, b)
        if want is not None:
            cand = [j for j in cand if tag[j] == want]
        elif cp.whitelist:
            cand = [j for j in cand if tag[j] in KNOWN_TAGS]
    elif want is not None:
        # tag-dispatched scan via the per-doc tag->ids index: O(matches)
        # instead of a full-node pass per compound. Ids are sorted, so
        # the scope restriction is a bisect on the tag's own id list.
        ids = doc.tag_ids().get(want)
        if not ids:
            return []
        cand = ids[bisect_left(ids, a):bisect_left(ids, b)]
    elif cp.whitelist:
        cand = [j for j in range(a, b) if tag[j] in KNOWN_TAGS]
    else:
        cand = range(a, b)
    test = cp.test
    if test is None:
        return list(cand)
    if cp.first:
        for j in cand:
            if test(doc, j):
                return [j]
        return []
    return [j for j in cand if test(doc, j)]


def _direct_children(doc: DocIndex, cp: _Compiled, nodes: list[int]) -> list[int]:
    """Direct children of ``nodes`` that match ``cp``, grouped by parent
    in ``nodes`` order, then by id."""
    return [
        ch for nd in nodes for ch in doc.children_of(nd) if _matches(doc, cp, ch)
    ]


def eval_chain(
    doc: DocIndex, chain: list[Compound], scopes: list[tuple[int, int]]
) -> list[int]:
    """Evaluate one descendant chain within the given character ranges.

    Returns matched node ids (deduped, insertion order)."""
    nodes: list[int] | None = None
    for comp in chain:
        if comp.is_empty:
            return []
        cp = _compiled(comp)
        if comp.direct and nodes is not None and not comp.ref_requery:
            nodes = _direct_children(doc, cp, nodes)
        else:
            if nodes is None:
                ranges = scopes
            elif comp.direct:
                # A.8 ref-compat: the reference re-searches each direct
                # child's padded pseudo-element as DESCENDANTS, so the
                # step matches the child itself or anything inside it
                # [ParseHTML.php:1796-1823]
                ranges = [
                    (doc.start_l[ch], doc.end_l[ch])
                    for nd in nodes for ch in doc.children_of(nd)
                ]
            else:
                ranges = [(doc.cstart_l[n], doc.cend_l[n]) for n in nodes]
            out: list[int] = []
            seen: set[int] = set()
            for lo, hi in ranges:
                for j in _match_in_range(doc, cp, lo, hi):
                    if j not in seen:
                        seen.add(j)
                        out.append(j)
            nodes = out
        if not nodes:
            return []
    return nodes if nodes is not None else []


def find_nodes(
    doc: DocIndex,
    plan: list[list[Compound]],
    scopes: list[tuple[int, int]],
) -> list[int]:
    """Union of all chains, deduped, ordered by document position
    (SURVEY.md 2.8 ordering pin: ascending byte offset)."""
    seen: set[int] = set()
    out: list[int] = []
    for chain in plan:
        for j in eval_chain(doc, chain, scopes):
            if j not in seen:
                seen.add(j)
                out.append(j)
    out.sort(key=doc.start_l.__getitem__)
    return out
