"""Main-content extraction: link-density / text-mass scoring over the
node index, emitting ordered (kind, text, media_ref, order) spans.

Public heuristic lineage: Kohlschuetter et al., "Boilerplate Detection
using Shallow Text Features" (WSDM 2010) -- link density + text mass;
re-expressed as vectorized interval arithmetic over the tokenizer's text
regions (prefix sums + batched searchsorted, O(nodes log regions) per
document with NO per-node Python in the scoring loop). Node masses need
no clipping: a text region is a gap between markup tokens, and every
bound the scorer or the emit asks about -- a node's contents span, a
pruned subtree's outer span, the container -- is a token boundary, so
each region lies wholly inside or wholly outside it. A mass is then a
difference of two prefix sums (``TextMass``), and the emit takes or
drops whole regions. Container
descent (rule 2) walks each container's children by subtree jumps
(``DocIndex.subtree_end_l``), so it is linear in nesting depth, not
quadratic. The exact rules below are the
PINNED SPEC: the pure-Python oracle in tests uses the same definitions,
and the Spark pipeline must reproduce them byte-for-byte. The tag sets
the rules read (top-level anchors, rule-3 boilerplate tags, rule-4 media)
are defined here and derived per document from ``DocIndex.tag_ids()``;
the tokenizer classifies no tag for them.

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

from .tokenizer import _TRIM_RE, DocIndex

DESCEND_FRACTION = 0.7
LINK_DENSITY_MAX = 0.65
MIN_ANCHORS = 2
BOILER_TAGS = frozenset(
    "nav footer aside header script style form iframe noscript".split()
)
MEDIA_TAGS = ("img", "embed")

_EMPTY = np.zeros(0, dtype=np.int64)


def _prefix_sum(lengths):
    """[0, l0, l0+l1, ...]: the prefix sums the masses index."""
    cum = np.zeros(len(lengths) + 1, dtype=np.int64)
    lengths.cumsum(out=cum[1:])  # method form: no dispatch wrapper
    return cum


class TextMass:
    """Prefix sums over the text regions: all text (``cum``) and the text
    inside top-level anchors (``acum``), indexed by region number.

    Every bound the scorer asks about is a token boundary -- a node's
    contents span, a container (one of those, or the whole document) --
    and a text region is a gap between tokens, so no region straddles a
    bound. The mass of ``[lo, hi)`` is therefore a prefix difference over
    the regions that START in it, with no clipping of the end regions:
    ``cum[ts.searchsorted(hi)] - cum[ts.searchsorted(lo)]``. The same
    holds for a top-level anchor's contents, so each region is wholly
    anchor text or not, and ``acum`` is the prefix sum of the flagged
    region lengths."""

    def __init__(self, doc: DocIndex):
        self.doc = doc
        # the only place text regions become numpy: DocIndex keeps them
        # as lists, and the selector paths never pay for these vectors
        self.ts = ts = np.asarray(doc.tstart_l, dtype=np.int64)
        lengths = np.asarray(doc.tend_l, dtype=np.int64) - ts
        self.cum = _prefix_sum(lengths)

        # top-level <a> nodes: in doc order, an <a> is top-level iff it
        # starts at/after the end of the previous top-level <a> (nested
        # anchors are contained intervals)
        start_l = doc.start_l
        end_l = doc.end_l
        cstart_l = doc.cstart_l
        cend_l = doc.cend_l
        top: list[int] = []
        bounds: list[int] = []
        cur_end = -1
        for i in doc.tag_ids().get("a", ()):
            if start_l[i] >= cur_end:
                top.append(i)
                bounds.append(cstart_l[i])
                bounds.append(cend_l[i])
                cur_end = end_l[i]
        if top:
            self.anchor_starts = np.asarray(
                [start_l[i] for i in top], dtype=np.int64
            )
            # region k is anchor text iff an odd number of the sorted
            # (contents start, contents end) region indices are <= k
            # (top-level anchors are disjoint, so the bounds alternate)
            n_reg = len(ts)
            edges = ts.searchsorted(bounds)
            inside = np.bincount(edges, minlength=n_reg + 1).cumsum()[:n_reg] & 1
            self.acum = _prefix_sum(lengths * inside)
        else:
            self.anchor_starts = _EMPTY
            self.acum = np.zeros(len(ts) + 1, dtype=np.int64)

    def masses(self, lo, hi):
        """(text_len, anchor_len) of token-bounded ranges [lo_i, hi_i)."""
        ts = self.ts
        a = ts.searchsorted(lo)
        b = ts.searchsorted(hi)
        return self.cum[b] - self.cum[a], self.acum[b] - self.acum[a]

    def anchors_in_many(self, lo, hi):
        a_s = self.anchor_starts
        return a_s.searchsorted(hi, side="left") - a_s.searchsorted(
            lo, side="left"
        )


def node_masses(doc: DocIndex, tm: TextMass):
    """Per-node (text_len, anchor_len) over contents spans: two prefix
    differences for the whole document (round-8 profiling: the container
    descent + prune pass together issued ~60 scalar bisect masses per
    doc; one batched pass serves both consumers)."""
    if doc.n == 0:
        return _EMPTY, _EMPTY
    return tm.masses(doc.cstart, doc.cend)


def find_main_container(
    doc: DocIndex, tm: TextMass, m_all: list | None = None
) -> tuple[int, int]:
    """Byte range of the main-content container (rule 2).

    ``m_all`` is the optional precomputed per-node non-anchor mass (from
    node_masses). Children of the current container are enumerated by
    subtree jumps (``DocIndex.children_of``'s walk, inlined: a call and
    a list per level cost ~15% on deep nesting), so the whole descent
    visits each node at most once: linear in nesting depth, not
    quadratic."""
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
    subtree_end_l = doc.subtree_end_l
    cur_node = -1
    while m_cur > 0:
        best = -1
        best_m = -1
        k = cur_node + 1
        while k < n and parent_l[k] == cur_node:
            mk = m_all[k]
            if mk > best_m:  # ties: first (earliest start) wins
                best_m = mk
                best = k
            k = subtree_end_l[k]
        if best < 0 or best_m < DESCEND_FRACTION * m_cur:
            break
        cur_node = best
        lo, hi = cstart[best], cend[best]
        m_cur = best_m
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
    tl = tl[a0:b0]
    al = al[a0:b0]
    na = tm.anchors_in_many(doc.cstart[a0:b0], doc.cend[a0:b0])
    dense = (na >= MIN_ANCHORS) & (tl > 0) & (al > LINK_DENSITY_MAX * tl)
    # candidates: the link-dense nodes plus each boilerplate tag's ids in
    # [a0, b0), sliced from the tag index (a per-node probe of doc.tag
    # measured slower on deep nesting). A node listed twice is skipped
    # the second time, as nested in itself.
    cand = (np.flatnonzero(dense) + a0).tolist()
    ti = doc.tag_ids()
    for t in BOILER_TAGS & ti.keys():
        ids = ti[t]
        cand += ids[bisect.bisect_left(ids, a0):bisect.bisect_left(ids, b0)]
    cand.sort()
    start_l, end_l = doc.start_l, doc.end_l
    out: list[tuple[int, int]] = []
    last_end = -1
    for j in cand:
        s, e = start_l[j], end_l[j]
        if s < last_end:
            continue  # nested inside an already-pruned subtree
        out.append((s, e))
        last_end = e
    return out


def main_content_columns(
    doc: DocIndex,
    media_positions: list[tuple[int, str]] | None = None,
) -> tuple[list[bool], list[str], list[str | None]]:
    """Ordered output spans of one document (rule 4) as the three compact
    columns ``(is_media, texts, media_refs)``.

    The text pieces are the container's text regions minus those inside
    pruned subtrees -- container and pruned bounds are token boundaries,
    so each region is wholly in or out -- split at the input-media
    positions strictly inside a kept region, then trimmed and filtered.
    Media (unpruned img/embed nodes in the container, then input media,
    each in position order) merge in by position: a media span precedes a
    text piece that starts at or after it, and at one position node media
    precede input media."""
    tm = TextMass(doc)
    tl_all, al_all = node_masses(doc, tm)
    m_all = (tl_all - al_all).tolist()
    lo, hi = find_main_container(doc, tm, m_all)
    pruned = pruned_ranges(doc, tm, lo, hi, tl_all, al_all)
    ts_l, te_l = doc.tstart_l, doc.tend_l
    bisect_left = bisect.bisect_left

    # kept regions: [a, b) less the region runs of the pruned subtrees
    # (a pruned subtree may outlive the container: the runs cap at b)
    a = bisect_left(ts_l, lo)
    b = bisect_left(ts_l, hi, a)
    if pruned:
        starts: list[int] = []
        ends: list[int] = []
        for ps, pe in pruned:
            k = bisect_left(ts_l, ps, a, b)
            starts += ts_l[a:k]
            ends += te_l[a:k]
            a = bisect_left(ts_l, pe, k, b)
        starts += ts_l[a:b]
        ends += te_l[a:b]
    else:
        starts = ts_l[a:b]
        ends = te_l[a:b]

    plo = [p[0] for p in pruned]

    def in_pruned(pos: int) -> bool:
        k = bisect.bisect_right(plo, pos) - 1
        return k >= 0 and pos < pruned[k][1]

    media: list[tuple[int, str]] = []
    # img/embed ids from the tag index, merged into doc order, so only
    # actual media nodes are visited
    ti = doc.tag_ids()
    media_ids = sorted(j for t in MEDIA_TAGS if t in ti for j in ti[t])
    if media_ids:
        start_l = doc.start_l
        a0 = bisect_left(start_l, lo)
        b0 = bisect_left(start_l, hi)
        m_lo = bisect_left(media_ids, a0)
        m_hi = bisect_left(media_ids, b0)
        for j in media_ids[m_lo:m_hi]:
            s_j = start_l[j]
            if not in_pruned(s_j):
                attrs = doc.attrs(j)
                media.append((s_j, attrs.get("src") or attrs.get("data-src") or ""))
    if media_positions:
        # a cut strictly inside a kept region splits it: it ends one
        # piece and starts the next (pieces are disjoint and sorted, so
        # the merged start and end lists pair up again)
        cuts = set()
        for pos, _ref in media_positions:
            k = bisect.bisect_right(starts, pos) - 1
            if k >= 0 and pos < ends[k] and pos > starts[k]:
                cuts.add(pos)
        if cuts:
            starts = sorted(starts + list(cuts))
            ends = sorted(ends + list(cuts))
        inputs = [
            (pos, ref)
            for pos, ref in media_positions
            # inclusive upper bound: media exactly at the container's
            # content end still belongs to the document tail
            if lo <= pos <= hi and not in_pruned(pos)
        ]
        if inputs:
            # stable: at one position node media (listed first) precede
            # input media, and input media keep their given order
            media = sorted(media + inputs, key=itemgetter(0))

    # trim_html, inlined: a piece with a non-space character survives
    # the whitespace collapse, so the test runs on the raw piece and the
    # regex runs only on pieces that are kept and can hold a 2+ run
    html = doc.html
    sub = _TRIM_RE.sub
    texts: list[str] = []
    tpos: list[int] = []
    for s, e in zip(starts, ends):
        t = html[s:e]
        if not t.isspace():
            texts.append(sub(" ", t) if e - s > 1 else t)
            tpos.append(s)
    if not media:
        n = len(texts)
        return [False] * n, texts, [None] * n
    # each media span goes before the first text piece at/after it
    is_media: list[bool] = []
    out: list[str] = []
    refs: list[str | None] = []
    j = 0
    for pos, ref in media:
        k = bisect_left(tpos, pos, j)
        out += texts[j:k]
        out.append("")
        is_media += [False] * (k - j)
        is_media.append(True)
        refs += [None] * (k - j)
        refs.append(ref)
        j = k
    n = len(texts)
    out += texts[j:]
    is_media += [False] * (n - j)
    refs += [None] * (n - j)
    return is_media, out, refs


def main_content_spans(
    doc: DocIndex,
    media_positions: list[tuple[int, str]] | None = None,
) -> list[tuple[str, str, str | None]]:
    """Ordered output spans (kind, text, media_ref) for one document: the
    row view of main_content_columns."""
    is_media, texts, refs = main_content_columns(doc, media_positions)
    return [
        ("media" if m else "text", t, r) for m, t, r in zip(is_media, texts, refs)
    ]
