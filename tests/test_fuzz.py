"""Crash-safety fuzz: arbitrary input must never raise -- invalid
selectors compile to None (chainable empty), arbitrary byte soup
tokenizes to a consistent index, attrs parse to a dict. Tag soup also
pins the container descent's sibling walk to its linear-scan
definition, and adversarial nesting depth never makes the boilerplate
strip raise."""

import bisect

import hypothesis.strategies as st
from hypothesis import example, given, settings

from parse_html_spark.boilerplate import (
    DESCEND_FRACTION,
    TextMass,
    find_main_container,
    main_content_spans,
    node_masses,
)
from parse_html_spark.conditions import eval_conditions
from parse_html_spark.dom import PH
from parse_html_spark.selector import compile_selector
from parse_html_spark.tokenizer import DocIndex, parse_attrs


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_selector_compiler_never_raises(s):
    plan = compile_selector(s)
    assert plan is None or isinstance(plan, list)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="<>ab c/=\"'!-x1.#[]", max_size=120))
def test_tokenizer_never_raises_on_soup(s):
    d = DocIndex(s)
    assert d.n >= 0
    # index invariants hold even for garbage
    for i in range(d.n):
        assert 0 <= d.start[i] < d.cstart[i] <= d.end[i] <= len(s)
    # text regions in-bounds and ordered
    last = 0
    for a, b in zip(d.tstart, d.tend):
        assert last <= a < b <= len(s)
        last = b


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab c=\"'x1-_0", max_size=80))
def test_parse_attrs_never_raises(s):
    attrs = parse_attrs(s)
    assert isinstance(attrs, dict)
    attrs_v = parse_attrs(s, validate=True)
    assert set(attrs_v) <= set(attrs)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60), st.text(alphabet="abc<>/= ", max_size=80))
def test_find_never_raises(selector, html):
    r = PH(html).find(selector)
    assert r.text() is not None


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="abcde-", min_size=1, max_size=8),
        st.one_of(st.none(), st.text(max_size=12)),
        max_size=4,
    ),
    st.text(max_size=50),
)
def test_eval_conditions_never_raises(attrs, conditions):
    assert eval_conditions(attrs, conditions) in (True, False)


# -- container descent vs its linear-scan definition ------------------------

SOUP_TAGS = ["div", "b", "i", "p", "a", "section"]
SOUP_TEXT = ["x", "hello world ", "  ", "body text of some length ", "z" * 40]


@st.composite
def tag_soup(draw):
    """Open, exact-close, crossing (``<b>..<i>..</b><p>..</p>..</i>``),
    bare and void tags mixed with text; closers match per tag name, so
    random pieces also cross and leave bare start tags by themselves."""
    t = st.sampled_from(SOUP_TAGS)
    text = st.sampled_from(SOUP_TEXT)
    piece = st.one_of(
        t.map(lambda n: f"<{n}>"),
        t.map(lambda n: f"</{n}>"),
        t.map(lambda n: f"</{n} >"),  # inexact closer: closes nothing
        # <B> outlives <A>, so <C> after </A> is a child of <B>
        st.tuples(t, t, t, text, text, text, text).map(
            lambda a: f"<{a[0]}>{a[3]}<{a[1]}>{a[4]}</{a[0]}>"
            f"<{a[2]}>{a[5]}</{a[2]}>{a[6]}</{a[1]}>"
        ),
        st.sampled_from(["<img src='m'>", "<br>", "<hr>"]),
        text,
    )
    return "".join(draw(st.lists(piece, max_size=40)))


def _container_by_scan(doc, tm, m_all):
    """Rule 2 as first written: at every level, scan the container's
    whole subtree slice of the parent array for its children."""
    lo, hi = 0, len(doc.html)
    if doc.n == 0:
        return lo, hi
    m_cur, cur = tm.nonanchor(lo, hi), -1
    while m_cur > 0:
        sub_hi = (
            doc.n
            if cur < 0
            else bisect.bisect_left(doc.start_l, doc.end_l[cur], cur + 1)
        )
        kids = [i for i in range(cur + 1, sub_hi) if doc.parent_l[i] == cur]
        if not kids:
            break
        best = max(kids, key=lambda i: (m_all[i], -i))  # ties: earliest
        if m_all[best] < DESCEND_FRACTION * m_cur:
            break
        cur, m_cur = best, m_all[best]
        lo, hi = doc.cstart_l[best], doc.cend_l[best]
    return lo, hi


@settings(max_examples=600, deadline=None)
@given(tag_soup())
# <b> outlives its parent <article> and grandparent <section>: its child
# <p> starts past both, and the descent must still reach it
@example(
    "<section>" + "s" * 21 + "<article>" + "a" * 39 + "<b>" + "b" * 10
    + "</article></section><p>" + "p" * 30 + "</p></b>"
)
def test_container_sibling_walk_matches_scan(html):
    doc = DocIndex(html)
    tm = TextMass(doc)
    tl, al = node_masses(doc, tm)
    m_all = (tl - al).tolist()
    assert find_main_container(doc, tm, m_all) == _container_by_scan(
        doc, tm, m_all
    )


# -- adversarial nesting depth ----------------------------------------------

DEEP_SHAPES = {
    "nested": lambda d: "<div>" * d + "<p>deep body words</p>" + "</div>" * d,
    "unclosed": lambda d: "<div>words " * d,
    "closers_only": lambda d: "</div>" * d + "tail words",
    "crossing": lambda d: "<b>x<i>y" * d + "</b>z</i>w" * d,
    "anchors": lambda d: "<a href='/'>" * d + "link words" + "</a>" * d,
    "boiler": lambda d: "<nav><div>" * d + "menu" + "</div></nav>" * d,
    "media": lambda d: "<span><img src='i'>t" * d + "</span>" * d,
}


@settings(max_examples=60, deadline=None)
@given(
    st.sampled_from(sorted(DEEP_SHAPES)),
    st.integers(1, 3000),
    st.lists(st.integers(0, 10**6), max_size=3),
)
def test_main_content_spans_never_raises_on_depth(shape, depth, cuts):
    html = DEEP_SHAPES[shape](depth)
    media = [(c % (len(html) + 1), f"m{k}") for k, c in enumerate(cuts)]
    spans = main_content_spans(DocIndex(html), media)
    assert all(kind in ("text", "media") for kind, _t, _r in spans)
