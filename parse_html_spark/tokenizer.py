"""Byte-stream HTML tokenizer -> per-document node index.

One forward pass over the raw string builds, per document:

- node arrays (tag, start/end outer span, cstart/cend contents span,
  parent, subtree end, depth) -- the "ELEMENTS" of the reference
  (/root/reference/src/ParseHTML.php:28-44) as columnar arrays instead of
  position->string maps;
- plain-text regions (everything outside tag/comment/decl markup), which
  back ``text()`` = PHP ``strip_tags`` semantics [:249-252];
- lazily parsed attribute maps per start tag, replicating the reference's
  extractAttributes state machine [:1317-1408].

The pass classifies no tag beyond the void check. Consumers that need a
tag set (the boilerplate scorer's anchors, media and boilerplate tags,
the matcher's tag scans) read the lazy ``DocIndex.tag_ids()`` index.

Semantics pinned to the reference (SURVEY.md section 2.11):

- a tag starts only at ``<`` + ASCII letter (or ``</`` + letter); anything
  else (``<3``, ``< b``, stray ``<``) is text [:1892-1900 analog];
- start/close tags end at the FIRST ``>`` -- no quote awareness, matching
  the reference's strpos scans [:779, :1321];
- open/close matching is per-tag-name LIFO; an unclosed non-void element
  stays a bare start tag whose contents are empty [:1996-2000], except
  that we match exact tag tokens where the reference's prefix scan
  miscounts ``<b>``/``<br`` (divergence A.7, excluded from fixtures);
- orphan close tags are markup (not text regions, not nodes); they still
  surface verbatim inside extract() gap text, as in the reference;
- 16 void tags never take contents [:1419-1426].

The loop reads one token per turn, with one exception: a leaf element
``<name ...>text</name>`` (text without ``<``, the closer exactly
``</name>`` in the same case) is ONE token of the loop pattern
(``_LOOP_RE``), so it records its node, text region and closure without
a stack push or pop -- the tag-by-tag loop gives the same arrays, as a
leaf's closer always pops the leaf itself. A void name stays a bare node
with an orphan closer (``<br>x</br>``). The trap is backtracking: every
quantifier of the grammar is possessive (``*+``), because with a greedy
name ``<bx>t</b>`` would retry the name as ``b`` and match a leaf that
does not exist. ``TOKEN_RE`` stays the plain markup-token grammar that
counts tokens.
"""

from __future__ import annotations

import bisect
import re

import numpy as np

VOID_TAGS = frozenset(
    "area base br col command embed hr img input keygen link meta param "
    "source track wbr".split()
)

KNOWN_TAGS = frozenset(
    """a abbr address area article aside audio b base bdi bdo blockquote body
    br button canvas caption cite code col colgroup command datalist dd del
    details dfn div dl dt em embed fieldset figcaption figure footer form
    frameset frame h1 h2 h3 h4 h5 h6 head header hgroup hr html i iframe img
    input ins kbd keygen label legend li link map mark menu meta meter nav
    noscript object ol optgroup option output p param pre progress q rp rt
    ruby s samp script section select small source span strong style sub
    summary sup table tbody td textarea tfoot th thead time title tr track u
    ul var video wbr""".split()
)

# The markup-token grammar. Its alternatives are mutually exclusive on
# their first character (letter / '/' / '!?'), so ordering is free: the
# open-tag branch goes first (most frequent on real pages) and only the
# two tag names are captured -- fewer group registers for the C engine
# to track per token. Every quantifier is possessive: a name or an
# attribute run never gives characters back (see _LOOP_RE for why that
# matters). lastindex: 1 = open tag, 2 = close tag, None = <!...> / <?...>.
_OPEN = r"([a-zA-Z][a-zA-Z0-9]*+)[^>]*+"
_CLOSE = r"/([a-zA-Z][a-zA-Z0-9]*+)[^>]*+"
_SPECIAL = r"[!?][^>]*+"
TOKEN_RE = re.compile(rf"<(?:{_OPEN}|{_CLOSE}|{_SPECIAL})>")

# The DocIndex loop's pattern: TOKEN_RE's alternatives behind one more,
# the leaf element ``<name ...>text</name>`` -- text without '<', closed
# by the exact, same-case ``</name>`` -- matched as ONE token, so a leaf
# costs one loop turn and no stack push/pop. The possessive name is what
# makes it exact: with a backtracking name, ``<bx>t</b>`` would retry
# the name as ``b`` (``x`` becoming an attribute) and match a leaf the
# tag-by-tag loop never builds. An open tag that is not a leaf fails the
# leaf branch at its first '<' and falls through to TOKEN_RE's branches.
# lastindex: 2 = leaf (group 1 name, group 2 text), 3 = open tag,
# 4 = close tag, None = special.
_LOOP_RE = re.compile(
    rf"<(?:{_OPEN}>([^<]*+)</\1|{_OPEN}|{_CLOSE}|{_SPECIAL})>"
)

_ATTR_FORBIDDEN = re.compile(r"[\"'>/=\s]")


def parse_attrs(attr_str: str, validate: bool = False) -> dict[str, str | None]:
    """Attribute map from the raw text between tag name and '>'.

    Port of the reference state machine [:1317-1408]: names lowercased,
    first duplicate wins, bare attrs -> None, a trailing bare attr without
    a following space is dropped, name '0' is dropped (PHP empty()).
    """
    s = attr_str.strip()
    attrs: dict[str, str | None] = {}
    n = len(s)
    state = 0  # 0=build_name 1=check_quote 2=build_value
    name = ""
    value: str | None = ""
    quote = ""
    register = False
    for x in range(n):
        ch = s[x]
        if state == 0:
            if x == 0:
                # the reference's 'init' state appends the very first
                # character unconditionally (even '=' or a quote) [:1336-1339]
                name += ch
            elif ch == "=":
                state = 1
            elif ch.isspace():
                value = None
                register = True
            else:
                name += ch
        elif state == 1:
            if ch in ("\"", "'"):
                state = 2
                quote = ch
            elif ch.isspace():
                pass
            else:
                value = ch
                quote = ""
                state = 2
        elif state == 2:
            if not quote and ch.isspace():
                register = True
            elif not quote and x == n - 1:
                value = (value or "") + ch
                register = True
            elif ch == quote:
                register = True
            else:
                value = (value or "") + ch
        if register:
            lname = name.lower()
            if lname and lname != "0" and lname not in attrs:
                attrs[lname] = value
            register = False
            name = ""
            value = ""
            quote = ""
            state = 0
    if validate and attrs:
        attrs = {k: v for k, v in attrs.items() if not _ATTR_FORBIDDEN.search(k)}
    return attrs


class DocIndex:
    """Columnar node index for one document.

    Node ids are in start order, which is pre-order: each node's
    subtree is the contiguous run of ids ``[i, subtree_end_l[i])``.
    ``subtree_end_l`` comes from the parent pass's interval stack, not
    from a bisect of ``end_l[i]`` into the node starts: closers match per
    tag name, so intervals can cross, and in ``<b><i></b><p>x</p></i>``
    the ``<p>`` starts after ``</b>`` yet is a descendant of ``<b>``
    through ``<i>``. Children, siblings and subtree walks all step by
    this one array."""

    __slots__ = (
        "html", "n", "tag", "_attrs", "_tag_ids",
        "start_l", "end_l", "cstart_l", "cend_l", "parent_l", "subtree_end_l",
        "_depth_l", "tstart_l", "tend_l", "_cstart_a", "_cend_a",
    )

    # every node array is a plain list: scalar paths (container descent,
    # per-node loops, bisect) index ints without numpy boxing. Only
    # cstart/cend have lazy numpy views, for the boilerplate vector pass
    # (node_masses, pruned_ranges) and perfbench; TextMass builds its own
    # text-region vectors from tstart_l/tend_l

    @property
    def cstart(self) -> "np.ndarray":
        if self._cstart_a is None:
            self._cstart_a = np.asarray(self.cstart_l, dtype=np.int64)
        return self._cstart_a

    @property
    def cend(self) -> "np.ndarray":
        if self._cend_a is None:
            self._cend_a = np.asarray(self.cend_l, dtype=np.int64)
        return self._cend_a

    @property
    def depth_l(self) -> list[int]:
        """Node depths, derived lazily from parent pointers (a parent
        always precedes its children in start order, so one forward pass
        suffices). The extraction hot path never reads depth; only the
        node-table/selector consumers pay the O(n) build."""
        if self._depth_l is None:
            parent_l = self.parent_l
            d = [0] * self.n
            for i, p in enumerate(parent_l):
                if p >= 0:
                    d[i] = d[p] + 1
            self._depth_l = d
        return self._depth_l

    def __init__(self, html: str):
        self.html = html
        tags: list[str] = []
        starts: list[int] = []
        st_ends: list[int] = []  # end of start tag
        open_stacks: dict[str, list[int]] = {}
        # plain-text regions (gaps between markup tokens) are built
        # inline, not by a second pass. The void check is the loop's only
        # tag classification: the scorer derives its anchor, media and
        # boilerplate-tag sets from tag_ids(), so the selector paths,
        # which never score, do not pay for them.
        # A leaf token appends its final outer/contents ends at once; an
        # open tag appends its start-tag end to both, and a matching
        # closer overwrites them in place.
        tstart: list[int] = []
        tend: list[int] = []
        ends: list[int] = []
        cends: list[int] = []

        # hot loop: local bindings + positional groups (see _LOOP_RE);
        # ~200 tokens/doc on the bench mix
        tags_append = tags.append
        starts_append = starts.append
        st_ends_append = st_ends.append
        tstart_append = tstart.append
        tend_append = tend.append
        ends_append = ends.append
        cends_append = cends.append
        get_stack = open_stacks.get
        pos = 0
        for m in _LOOP_RE.finditer(html):
            s_tok, e_tok = m.span()
            if s_tok > pos:
                tstart_append(pos)
                tend_append(s_tok)
            pos = e_tok
            last = m.lastindex  # 2=leaf, 3=open, 4=close, None=special
            if last == 2 or last == 3:
                if last == 2:
                    # leaf: text region and closure in this one turn;
                    # the closer is exact by construction of _LOOP_RE
                    lname = m[1].lower()
                    st_end, c_s = m.span(2)
                    if c_s > st_end:
                        tstart_append(st_end)
                        tend_append(c_s)
                else:
                    lname = m[3].lower()
                    st_end = e_tok
                idx = len(tags)
                tags_append(lname)
                starts_append(s_tok)
                st_ends_append(st_end)
                void = lname in VOID_TAGS
                if last == 3:
                    # a bare start tag until a closer pops it
                    ends_append(e_tok)
                    cends_append(e_tok)
                    if not void:
                        stack = get_stack(lname)
                        if stack is None:
                            open_stacks[lname] = [idx]
                        else:
                            stack.append(idx)
                elif void:
                    # a void leaf (<br>x</br>) stays a bare node and its
                    # closer an orphan, as the tag-by-tag loop leaves them
                    ends_append(st_end)
                    cends_append(st_end)
                else:
                    ends_append(e_tok)
                    cends_append(c_s)
            elif last == 4:
                # Only an EXACT '</name>' closes: the reference's
                # constructElement searches the literal closer with
                # stripos [:1571-1580], so '</div >' / '</div x>' close
                # nothing (the element stays a bare start tag) -- but
                # they are still markup tokens (strip_tags removes them
                # from text). Exact form <=> token length == len(name)+3.
                cname = m[4]
                if e_tok - s_tok == len(cname) + 3:
                    stack = get_stack(cname.lower())
                    if stack:
                        idx = stack.pop()
                        ends[idx] = e_tok
                        cends[idx] = s_tok
                # orphan/junk close tag: markup only
        if pos < len(html):
            tstart_append(pos)
            tend_append(len(html))

        n = len(tags)
        self.n = n
        self.tag = tags
        # element outer end / contents end: == st_end for a bare start
        # tag. A closer always starts at/after its open tag's end (tokens
        # are disjoint and increasing), so cend >= cstart by construction.
        self.start_l = starts
        self.end_l = ends
        self.cstart_l = st_ends
        self.cend_l = cends
        self._cstart_a = None
        self._cend_a = None
        self._attrs: list[dict | None] = [None] * n

        # parent pointers via interval stack (nodes are in start order),
        # with the open ends kept beside the ids and a sentinel that no
        # node start reaches. Only a node that the NEXT node starts
        # inside can own children, so leaves and bare tags are never
        # pushed just to be popped: their subtree ends at i + 1. A node
        # popped at id i has its subtree end there; one still open after
        # the last node ends at n.
        parent_l: list[int] = []
        parent_append = parent_l.append
        subtree_end = list(range(1, n + 1))
        stack = [-1]
        stack_end = [len(html)]
        nexts = starts[1:]
        nexts.append(len(html))
        for i, s_i, e_i, s_next in zip(range(n), starts, ends, nexts):
            while stack_end[-1] <= s_i:
                subtree_end[stack.pop()] = i
                stack_end.pop()
            parent_append(stack[-1])
            if s_next < e_i:
                stack.append(i)
                stack_end.append(e_i)
        for k in stack[1:]:
            subtree_end[k] = n
        self.parent_l = parent_l
        self.subtree_end_l = subtree_end
        self._depth_l = None
        self._tag_ids: dict | None = None

        self.tstart_l = tstart
        self.tend_l = tend

    # -- accessors ---------------------------------------------------------

    def attrs(self, i: int, validate: bool = False) -> dict[str, str | None]:
        # attr source span is fully derivable: it runs from the end of
        # the (pure-ASCII) tag name to just before the start tag's '>',
        # so no per-node span tuple is stored in the tokenize loop
        cached = self._attrs[i]
        if cached is None:
            a = self.start_l[i] + 1 + len(self.tag[i])
            cached = parse_attrs(self.html[a:self.cstart_l[i] - 1])
            self._attrs[i] = cached
        if validate:  # parse_attrs(..., validate=True), as a fresh dict
            return {k: v for k, v in cached.items() if not _ATTR_FORBIDDEN.search(k)}
        return cached

    def outer(self, i: int) -> str:
        return self.html[self.start_l[i]:self.end_l[i]]

    def contents(self, i: int) -> str:
        return self.html[self.cstart_l[i]:self.cend_l[i]]

    def starttag(self, i: int) -> str:
        return self.html[self.start_l[i]:self.cstart_l[i]]

    def is_bare(self, i: int) -> bool:
        """True when the element is only a start tag (void or unclosed)."""
        return self.end_l[i] == self.cstart_l[i]

    def tag_ids(self) -> dict[str, list[int]]:
        """tag -> sorted node ids, built lazily in one pass. Turns a
        tag-dispatched selector scan from O(nodes) per compound into
        O(matches): the page job runs ~7 tag scans per document
        (title/table + the 4-chain form selector), which all share this
        one index (round-8)."""
        if self._tag_ids is None:
            ti: dict[str, list[int]] = {}
            for j, t in enumerate(self.tag):
                lst = ti.get(t)
                if lst is None:
                    ti[t] = [j]
                else:
                    lst.append(j)
            self._tag_ids = ti
        return self._tag_ids

    def children_of(self, i: int) -> list[int]:
        """Child ids of node i in order; the roots for i = -1. Children
        follow each other by subtree jumps: the first is i + 1, the next
        starts where the previous one's subtree ends, and the first id
        whose parent is not i lies past i's subtree."""
        parent_l = self.parent_l
        subtree_end_l = self.subtree_end_l
        n = self.n
        out: list[int] = []
        k = i + 1
        while k < n and parent_l[k] == i:
            out.append(k)
            k = subtree_end_l[k]
        return out

    def text_between(self, lo: int, hi: int) -> str:
        """Concatenated plain text within [lo, hi) -- strip_tags semantics."""
        ts_l = self.tstart_l
        te_l = self.tend_l
        if hi <= lo or not ts_l:
            return ""
        a = bisect.bisect_right(te_l, lo)
        b = bisect.bisect_left(ts_l, hi)
        if a >= b:
            return ""
        parts = []
        for k in range(a, b):
            s_k = ts_l[k]
            if s_k < lo:
                s_k = lo
            e_k = te_l[k]
            if e_k > hi:
                e_k = hi
            if e_k > s_k:
                parts.append(self.html[s_k:e_k])
        return "".join(parts)


_TRIM_RE = re.compile(r"\s\s+")


def trim_html(s: str) -> str:
    """Reference trimHtml [:429-434]: collapse whitespace runs to one
    space; a pure-whitespace (non-empty) result becomes ''."""
    if len(s) < 2:  # no 2+ whitespace run possible: skip the regex
        return "" if s and s.isspace() else s
    s = _TRIM_RE.sub(" ", s)
    if s.isspace():
        return ""
    return s
