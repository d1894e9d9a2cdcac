"""Main-content extraction: link-density / text-mass scoring over the
node index, emitting ordered (kind, text, media_ref, order) spans.

Public heuristic lineage: Kohlschuetter et al., "Boilerplate Detection
using Shallow Text Features" (WSDM 2010) -- link density + text mass;
re-expressed as vectorized interval arithmetic over the tokenizer's text
regions (prefix sums + batched searchsorted, O(nodes log regions) per
document with NO per-node Python in the scoring loop). Container
descent (rule 2) walks each container's children by sibling jumps --
``bisect_left(start_l, end_l[child])`` to the first node past a child,
then a forward step over nodes whose parent is not the container, which
a crossing interval like ``<b><i></b>..</i>`` leaves there -- so it is
linear in nesting depth, not quadratic. The exact rules below are the
PINNED SPEC: the pure-Python oracle in tests uses the same definitions,
and the Spark pipeline must reproduce them byte-for-byte.

Pinned algorithm (deterministic):

1. non-anchor text mass m(x) = text chars in x minus text chars inside
   top-level <a> subtrees.
2. main container = start at the whole document; while some element
   child c of the current container has m(c) >= 0.7 * m(current),
   descend into the child with the largest m (ties: earliest start).
3. inside the container, prune any element subtree whose tag is in
   {nav, footer, aside, header, script, style, form, iframe, noscript}
   or that has >= 2 top-level anchors and anchor chars > 0.65 * text
   chars (link-density boilerplate).
4. emit, in byte order: trimHtml'd non-empty text pieces (kind='text')
   from unpruned text regions -- split additionally at input-media
   positions -- and media refs (kind='media') for unpruned img/embed
   nodes (media_ref = src, else data-src, else ''). Input media spans
   interleave by assembled byte position (inclusive container end).
5. order = 0..n-1 over the emitted sequence.
"""

from __future__ import annotations

import bisect
from operator import itemgetter

import numpy as np

from .tokenizer import BOILER_TAGS, MEDIA_TAGS, DocIndex, trim_html

DESCEND_FRACTION = 0.7
LINK_DENSITY_MAX = 0.65
MIN_ANCHORS = 2

_EMPTY = np.zeros(0, dtype=np.int64)


def _prefix_sum(lengths):
    """[0, l0, l0+l1, ...]: the prefix sums _mass_many indexes."""
    cum = np.zeros(len(lengths) + 1, dtype=np.int64)
    lengths.cumsum(out=cum[1:])  # method form: no dispatch wrapper
    return cum


def _mass_many(starts, ends, cum, lo, hi):
    """Vectorized: total covered length of [lo_i, hi_i) against the
    sorted disjoint regions (starts, ends) with prefix sums cum."""
    lo = np.asarray(lo, dtype=np.int64)
    hi = np.asarray(hi, dtype=np.int64)
    if len(starts) == 0:
        return np.zeros(len(lo), dtype=np.int64)
    # ndarray method form skips the np.searchsorted dispatch wrapper
    a = ends.searchsorted(lo, side="right")
    b = starts.searchsorted(hi, side="left")
    valid = b > a
    a_c = np.minimum(a, len(starts) - 1)
    b_c = np.maximum(b - 1, 0)
    total = cum[b] - cum[a]
    left = np.maximum(0, lo - starts[a_c])
    right = np.maximum(0, ends[b_c] - hi)
    out = np.where(valid, total - left - right, 0)
    return np.maximum(out, 0)


class TextMass:
    """Batched prefix-sum index over text regions + top-level anchors."""

    def __init__(self, doc: DocIndex):
        self.doc = doc
        # the only place text regions become numpy: DocIndex keeps them
        # as lists, and the selector paths never pay for these vectors
        ts_l, te_l = doc.tstart_l, doc.tend_l
        self.ts = ts = np.asarray(ts_l, dtype=np.int64)
        self.te = te = np.asarray(te_l, dtype=np.int64)
        self.cum = _prefix_sum(te - ts)

        # top-level <a> nodes: in doc order, an <a> is top-level iff it
        # starts at/after the end of the previous top-level <a> (nested
        # anchors are contained intervals); anchor ids come straight
        # from the tokenizer pass
        start_l = doc.start_l
        end_l = doc.end_l
        top: list[int] = []
        cur_end = -1
        for i in doc.a_ids:
            if start_l[i] >= cur_end:
                top.append(i)
                cur_end = end_l[i]
        self.top_anchors = top
        if top:
            self.anchor_starts = np.asarray(
                [start_l[i] for i in top], dtype=np.int64
            )
            # anchor text regions = text regions clipped to anchor
            # contents (anchors per doc are few: scalar bisect over the
            # lists beats numpy dispatch here)
            ats_l: list[int] = []
            ate_l: list[int] = []
            cstart_l = doc.cstart_l
            cend_l = doc.cend_l
            for i in top:
                alo = cstart_l[i]
                ahi = cend_l[i]
                a_k = bisect.bisect_right(te_l, alo)
                b_k = bisect.bisect_left(ts_l, ahi)
                for k in range(a_k, b_k):
                    s_c = ts_l[k]
                    e_c = te_l[k]
                    if s_c < alo:
                        s_c = alo
                    if e_c > ahi:
                        e_c = ahi
                    if e_c > s_c:
                        ats_l.append(s_c)
                        ate_l.append(e_c)
            self.ats = np.asarray(ats_l, dtype=np.int64)
            self.ate = np.asarray(ate_l, dtype=np.int64)
        else:
            self.anchor_starts = _EMPTY
            self.ats = _EMPTY
            self.ate = _EMPTY
        self.acum = _prefix_sum(self.ate - self.ats)

    def text_len_many(self, lo, hi):
        return _mass_many(self.ts, self.te, self.cum, lo, hi)

    def anchor_len_many(self, lo, hi):
        return _mass_many(self.ats, self.ate, self.acum, lo, hi)

    def anchors_in_many(self, lo, hi):
        a_s = self.anchor_starts
        return a_s.searchsorted(hi, side="left") - a_s.searchsorted(
            lo, side="left"
        )


def node_masses(doc: DocIndex, tm: TextMass):
    """Per-node (text_len, anchor_len) over contents spans, computed in
    TWO vectorized passes for the whole document (round-8 profiling: the
    container descent + prune pass together issued ~60 scalar bisect
    masses per doc; one batched pass serves both consumers)."""
    if doc.n == 0:
        return _EMPTY, _EMPTY
    cs = doc.cstart
    ce = doc.cend
    return tm.text_len_many(cs, ce), tm.anchor_len_many(cs, ce)


def find_main_container(
    doc: DocIndex, tm: TextMass, m_all: list | None = None
) -> tuple[int, int]:
    """Byte range of the main-content container (rule 2).

    ``m_all`` is the optional precomputed per-node non-anchor mass (from
    node_masses). Children of the current container are enumerated by a
    sibling walk over the start-ordered node arrays, so the whole descent
    visits each node at most once (linear in nesting depth, not
    quadratic):

    - first child: the first node after the container whose parent is
      the container (node 0 for the document roots);
    - next sibling: the first node starting at/after the child's end
      (``bisect_left(start_l, end_l[child], child + 1)``), then a forward
      step past nodes whose parent is not the container.

    The forward step covers crossing intervals: closers match per tag
    name, so in ``<b><i></b></i><p>`` the ``<i>`` outlives ``<b>`` and
    the ``<p>`` after ``</b>`` is a child of ``<i>``, not a sibling of
    ``<b>``. Such nodes sit in the gaps between the container's children,
    outside the subtree descended into next, so each is stepped over at
    most once. The walk stops at the container's subtree bound (``n`` for
    the roots)."""
    lo, hi = 0, len(doc.html)
    n = doc.n
    if n == 0:
        return lo, hi
    # whole-document non-anchor mass: every text region lies in [lo, hi)
    m_cur = int(tm.cum[-1] - tm.acum[-1])  # children reuse m[j]
    if m_all is None:
        tl, al = node_masses(doc, tm)
        m_all = (tl - al).tolist()
    cstart, cend = doc.cstart_l, doc.cend_l
    parent_l = doc.parent_l
    start_l, end_l = doc.start_l, doc.end_l
    bisect_left = bisect.bisect_left
    cur_node = -1
    k, bound = 0, n
    while m_cur > 0:
        best = -1
        best_m = -1
        while k < bound:
            if parent_l[k] != cur_node:
                k += 1  # inside a crossing interval: not a child
                continue
            mk = m_all[k]
            if mk > best_m:  # ties: first (earliest start) wins
                best_m = mk
                best = k
            k = bisect_left(start_l, end_l[k], k + 1, bound)
        if best < 0 or best_m < DESCEND_FRACTION * m_cur:
            break
        cur_node = best
        lo, hi = cstart[best], cend[best]
        m_cur = best_m
        # subtree of best = contiguous node ids [best + 1, bound); not
        # capped by the old bound: a crossing child can outlive its parent
        k = best + 1
        bound = bisect_left(start_l, end_l[best], k)
    return lo, hi


def pruned_ranges(
    doc: DocIndex,
    tm: TextMass,
    lo: int,
    hi: int,
    tl=None,
    al=None,
) -> list[tuple[int, int]]:
    """Outer byte ranges of boilerplate subtrees inside [lo, hi) (rule 3),
    computed with one vectorized scoring pass over candidate nodes.
    ``tl``/``al`` are the full-document per-node masses from
    node_masses(), computed here when omitted; either way they are
    sliced to the candidate nodes."""
    a0 = bisect.bisect_left(doc.start_l, lo)
    b0 = bisect.bisect_left(doc.start_l, hi)
    if a0 >= b0:
        return []
    if tl is None:
        tl, al = node_masses(doc, tm)
    # boilerplate-tag mask comes pre-classified from the tokenizer pass;
    # only the candidate subrange is lifted to numpy
    boiler = np.asarray(doc.boiler_l[a0:b0], dtype=bool)
    tl = tl[a0:b0]
    al = al[a0:b0]
    na = tm.anchors_in_many(doc.cstart[a0:b0], doc.cend[a0:b0])
    dense = (na >= MIN_ANCHORS) & (tl > 0) & (al > LINK_DENSITY_MAX * tl)
    cand = np.flatnonzero(boiler | dense)
    start_l, end_l = doc.start_l, doc.end_l
    out: list[tuple[int, int]] = []
    last_end = -1
    for k in cand:
        j = a0 + int(k)
        s, e = start_l[j], end_l[j]
        if s < last_end:
            continue  # nested inside an already-pruned subtree
        out.append((s, e))
        last_end = e
    return out


def main_content_spans(
    doc: DocIndex,
    media_positions: list[tuple[int, str]] | None = None,
) -> list[tuple[str, str, str | None]]:
    """Ordered output spans (kind, text, media_ref) for one document."""
    tm = TextMass(doc)
    tl_all, al_all = node_masses(doc, tm)
    m_all = (tl_all - al_all).tolist()
    lo, hi = find_main_container(doc, tm, m_all)
    pruned = pruned_ranges(doc, tm, lo, hi, tl_all, al_all)
    plo = [p[0] for p in pruned]

    def in_pruned(pos: int) -> bool:
        k = bisect.bisect_right(plo, pos) - 1
        return k >= 0 and pos < pruned[k][1]

    events: list[tuple[int, int, str, str, str | None]] = []
    # input media spans split text regions: the interleaved sequence must
    # keep text-before / media / text-after as separate output spans.
    # Breaks (pruned ranges + zero-width media cuts) are merged ONCE per
    # document instead of sorted(pruned + cuts) per text region (round-7
    # profiling): out-of-region breaks are no-ops under the same skip
    # rules the per-region sort obeyed (a cut at pos==s advances nothing,
    # ps >= e terminates the sorted scan), so one monotone pointer over
    # the merged list reproduces the per-region behavior exactly.
    ts_l, te_l = doc.tstart_l, doc.tend_l
    a = bisect.bisect_right(te_l, lo)
    b = bisect.bisect_left(ts_l, hi)
    if media_positions:
        breaks = sorted(pruned + [(p, p) for p, _ in media_positions])
    else:
        breaks = pruned  # already sorted, disjoint
    nb = len(breaks)
    gi = 0  # breaks before gi have pe <= every later region start: dead
    html = doc.html
    for k in range(a, b):
        s = ts_l[k]
        if s < lo:
            s = lo
        e = te_l[k]
        if e > hi:
            e = hi
        if e <= s:
            continue
        pos = s
        while gi < nb and breaks[gi][1] <= s:
            gi += 1
        for bi in range(gi, nb):
            ps, pe = breaks[bi]
            if ps >= e:
                break  # sorted by ps: no later break can intersect
            if pe < pos:
                continue
            if ps > pos:
                # inlined trim_html fast path: a large share of pieces
                # are single chars (no 2+ whitespace run possible), so
                # skip the call and regex entirely for len < 2
                t = html[pos:ps]
                if len(t) < 2:
                    if t and not t.isspace():
                        events.append((pos, 1, "text", t, None))
                else:
                    t = trim_html(t)
                    if t:
                        events.append((pos, 1, "text", t, None))
            if pe > pos:
                pos = pe
        if pos < e:
            t = html[pos:e]
            if len(t) < 2:
                if t and not t.isspace():
                    events.append((pos, 1, "text", t, None))
            else:
                t = trim_html(t)
                if t:
                    events.append((pos, 1, "text", t, None))
    # media nodes (img/embed) inside the container, unpruned; priority 0:
    # an input media span at a text boundary precedes the following text.
    # img/embed ids come pre-classified from the tokenizer pass (sorted
    # in doc order), so only actual media nodes are visited
    if doc.media_ids:
        start_l = doc.start_l
        a0 = bisect.bisect_left(start_l, lo)
        b0 = bisect.bisect_left(start_l, hi)
        m_lo = bisect.bisect_left(doc.media_ids, a0)
        m_hi = bisect.bisect_left(doc.media_ids, b0)
        for j in doc.media_ids[m_lo:m_hi]:
            s_j = start_l[j]
            if not in_pruned(s_j):
                attrs = doc.attrs(j)
                ref = attrs.get("src") or attrs.get("data-src") or ""
                events.append((s_j, 0, "media", "", ref))
    if media_positions:
        for pos, ref in media_positions:
            # inclusive upper bound: media exactly at the container's
            # content end still belongs to the document tail
            if lo <= pos <= hi and not in_pruned(pos):
                events.append((pos, 0, "media", "", ref))
    # C-level key; same (pos, priority) ordering, same stability
    events.sort(key=itemgetter(0, 1))
    return [(kind, text, ref) for _, _, kind, text, ref in events]
