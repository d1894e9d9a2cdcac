"""Property-based tests (hypothesis): tokenizer structure vs a known
generated tree, byte-coverage round-trip, and selector semantics vs an
independent oracle computed from the generation record."""

import hypothesis.strategies as st
from hypothesis import given, settings

from parse_html_spark.dom import PH
from parse_html_spark.tokenizer import DocIndex

TAGS = ["div", "section", "p", "span", "em", "ul", "li"]
WORDS = ["alpha", "beta", "gamma", "delta", "x1", "y2"]


@st.composite
def html_tree(draw, depth=0):
    """Returns (html, nodes) where nodes = [(tag, parent_idx)] in
    document order -- the ground-truth tree."""
    tag = draw(st.sampled_from(TAGS))
    n_attrs = draw(st.integers(0, 2))
    attrs = ""
    for k in range(n_attrs):
        name = draw(st.sampled_from(["class", "id", "data-k"]))
        val = draw(st.sampled_from(WORDS))
        attrs += f' {name}="{val}"'
    n_children = 0 if depth >= 3 else draw(st.integers(0, 3))
    inner = ""
    child_specs = []
    for _ in range(n_children):
        kind = draw(st.sampled_from(["text", "elem"]))
        if kind == "text":
            inner += draw(st.sampled_from(WORDS)) + " "
        else:
            chtml, chnodes = draw(html_tree(depth=depth + 1))
            child_specs.append((len(inner), chtml, chnodes))
            inner += chtml
    html = f"<{tag}{attrs}>{inner}</{tag}>"
    nodes = [(tag, -1)]
    for _off, _chtml, chnodes in child_specs:
        base = len(nodes)
        for ctag, cparent in chnodes:
            nodes.append((ctag, base + cparent if cparent >= 0 else 0))
    return html, nodes


@settings(max_examples=120, deadline=None)
@given(html_tree())
def test_tree_structure_matches_generation(tree):
    html, nodes = tree
    d = DocIndex(html)
    assert d.tag == [t for t, _ in nodes]
    assert d.parent_l == [p for _, p in nodes]


@settings(max_examples=120, deadline=None)
@given(html_tree())
def test_byte_coverage_roundtrip(tree):
    """Every byte is either markup (inside some token) or text region;
    text regions + node outer spans reconstruct the document exactly."""
    html, _ = tree
    d = DocIndex(html)
    covered = bytearray(len(html))
    for s, e in zip(d.tstart_l, d.tend_l):
        for i in range(s, e):
            covered[i] += 1
    text = "".join(
        html[s:e] for s, e in zip(d.tstart_l, d.tend_l)
    )
    assert max(covered, default=0) <= 1  # regions never overlap
    assert text == d.text_between(0, len(html))
    # offsets strictly increasing, intervals nested properly
    for i in range(d.n):
        p = d.parent_l[i]
        if p >= 0:
            assert d.start_l[p] < d.start_l[i]
            assert d.end_l[i] <= d.end_l[p]


def _descendants(nodes, i):
    return [j for j in range(len(nodes)) if _is_anc(nodes, i, j)]


def _is_anc(nodes, anc, j):
    p = nodes[j][1]
    while p >= 0:
        if p == anc:
            return True
        p = nodes[p][1]
    return False


@settings(max_examples=100, deadline=None)
@given(html_tree(), st.sampled_from(TAGS), st.sampled_from(TAGS))
def test_descendant_selector_vs_oracle(tree, outer, inner):
    """find('outer inner') == independent oracle on the generated tree."""
    html, nodes = tree
    got = PH(html).find(f"{outer} {inner}")
    d = got.doc
    got_ids = set(got.nodes)
    expect = set()
    for i, (t, _p) in enumerate(nodes):
        if t != outer:
            continue
        for j in _descendants(nodes, i):
            if nodes[j][0] == inner:
                expect.add(j)
    assert got_ids == expect


@settings(max_examples=100, deadline=None)
@given(html_tree(), st.sampled_from(TAGS))
def test_direct_child_selector_vs_oracle(tree, child):
    html, nodes = tree
    root_tag = nodes[0][0]
    got = set(PH(html).find(f"{root_tag} > {child}").nodes)
    expect = {
        j
        for j, (t, p) in enumerate(nodes)
        if t == child and p >= 0 and nodes[p][0] == root_tag
    }
    assert got == expect


@settings(max_examples=80, deadline=None)
@given(html_tree())
def test_text_equals_concatenated_words(tree):
    """text() of the root == all text regions in order (strip_tags)."""
    html, _ = tree
    ph = PH(html)
    d = DocIndex(html)
    assert ph.text() == d.text_between(0, len(html))


@given(html_tree(), st.sampled_from(TAGS), st.sampled_from(TAGS))
@settings(max_examples=60, deadline=None)
def test_ref_compat_direct_child_is_superset(tree, outer, inner):
    """Compat A.8 invariant: for any 'X > Y', the reference-compatible
    match set is a SUPERSET of the CSS-correct one, and equals the
    CSS-correct descendants-of-direct-children set."""
    html, _ = tree
    sel = f"{outer} > {inner}"
    css = set(PH(html).find(sel).nodes)
    compat = set(PH(html, ref_compat=True).find(sel).nodes)
    assert css <= compat
    # independent oracle: Y anywhere inside (or equal to) a direct child
    d = DocIndex(html)
    kids = [[] for _ in range(d.n)]
    for j, p in enumerate(d.parent_l):
        if p >= 0:
            kids[p].append(j)
    want = set()
    for x in range(d.n):
        if d.tag[x] != outer:
            continue
        for ch in kids[x]:
            for j in range(d.n):
                if d.tag[j] == inner and d.start_l[ch] <= d.start_l[j] < d.end_l[ch]:
                    want.add(j)
    assert compat == want


@settings(max_examples=120, deadline=None)
@given(html_tree())
def test_docindex_twin_consistency(tree):
    """The tokenizer keeps every node array as a list, with lazy numpy
    views of cstart/cend only -- the scalar paths read the lists, the
    boilerplate vector pass the views, so any drift between them is
    silent wrong answers. Pin: views are element-equal, and the text
    regions are disjoint and ordered."""
    html, _ = tree
    d = DocIndex(html)
    assert d.cstart.tolist() == d.cstart_l
    assert d.cend.tolist() == d.cend_l
    # text regions are disjoint, ordered, and non-empty
    for k in range(len(d.tstart_l)):
        assert d.tstart_l[k] < d.tend_l[k]
        if k:
            assert d.tstart_l[k] >= d.tend_l[k - 1]


def test_docindex_twin_consistency_on_soup():
    """Same view pins over adversarial soup (junk closers, orphan tags,
    anchors/media/boiler tags, stray '<')."""
    import random

    rng = random.Random(77)
    tags = ["div", "p", "a", "span", "nav", "footer", "img", "form",
            "table", "custom", "br", "embed"]
    for _ in range(400):
        parts = []
        for _ in range(rng.randrange(1, 50)):
            r = rng.random()
            t = rng.choice(tags)
            if r < 0.35:
                extra = ' href="/x"' if t == "a" else (
                    ' src="s.png"' if t in ("img", "embed") else ""
                )
                parts.append(f"<{t}{extra}>")
            elif r < 0.6:
                parts.append(f"</{rng.choice(tags)}>")
            elif r < 0.9:
                parts.append(" ".join(
                    f"w{rng.randrange(50)}"
                    for _ in range(rng.randrange(1, 8))
                ))
            else:
                parts.append(rng.choice(
                    ["<!-- c -->", "<3", "< b", "<div", "</div >", "\t\n"]
                ))
        d = DocIndex("".join(parts))
        assert d.cstart.tolist() == d.cstart_l
        assert d.cend.tolist() == d.cend_l
