"""Crash-safety fuzz: arbitrary input must never raise -- invalid
selectors compile to None (chainable empty), arbitrary byte soup
tokenizes to a consistent index, attrs parse to a dict. Tag soup also
pins the container descent's sibling walk to its linear-scan
definition, the scan-first selector matcher and the static scan API to
full node scans, and adversarial nesting depth never makes the
boilerplate strip raise."""

import bisect
import re

import hypothesis.strategies as st
from hypothesis import example, given, settings

from parse_html_spark.boilerplate import (
    DESCEND_FRACTION,
    TextMass,
    find_main_container,
    main_content_spans,
    node_masses,
    pruned_ranges,
)
from parse_html_spark.conditions import (
    OPERATORS,
    build_conditions,
    eval_conditions,
    parse_fields,
)
from parse_html_spark.dom import (
    PH,
    get_element_by_id,
    get_elements_by_attribute,
    get_elements_by_attributes,
    get_elements_by_class,
    get_elements_by_tag,
)
from parse_html_spark.matcher import (
    _compiled,
    _match_in_range,
    class_word_match,
    eval_chain,
    find_nodes,
)
from parse_html_spark.selector import Atom, Compound, compile_selector
from parse_html_spark.tokenizer import KNOWN_TAGS, DocIndex, parse_attrs


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
        assert 0 <= d.start_l[i] < d.cstart_l[i] <= d.end_l[i] <= len(s)
    # text regions in-bounds and ordered
    last = 0
    for a, b in zip(d.tstart_l, d.tend_l):
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
# 'iſ' matches the 'is' spelling only through Unicode case folding
@example({"t": "x"}, "t i\u017f x")
@example({"t": "x"}, "t \u0130s x")
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
    m_cur = int(tm.text_len_many([lo], [hi])[0])
    m_cur -= int(tm.anchor_len_many([lo], [hi])[0])
    cur = -1
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
    lo, hi = find_main_container(doc, tm, m_all)
    assert (lo, hi) == _container_by_scan(doc, tm, m_all)
    # the descent's whole-document mass is the two prefix-sum totals
    assert tm.cum[-1] - tm.acum[-1] == (
        tm.text_len_many([0], [len(html)])[0]
        - tm.anchor_len_many([0], [len(html)])[0]
    )
    # pruning without precomputed masses computes the same ones
    assert pruned_ranges(doc, tm, lo, hi) == pruned_ranges(
        doc, tm, lo, hi, tl, al
    )


# -- scan-first selector matching vs a full node scan -----------------------

MATCH_TAGS = ["div", "p", "ul", "li", "a", "span", "blink", "x1"]
MATCH_NAMES = ["id", "class", "n", "title", "data-x"]
MATCH_VALUES = [
    "", "s", "S", "\u017f", "aa", "aaa", "a b", "a  b", "1", "1.0", "x<y",
    "a-b", "<p", "b", "sa", "'s'",
]
# values that split the condition string into several OR / AND groups
DSL_VALUES = MATCH_VALUES + ["b OR title *= s", "1 OR n ~= aa", "s AND n > 0"]


@st.composite
def attr_soup(draw):
    """Start tags with quoted, unquoted and bare attributes (names in
    any case), closers, and text that repeats attribute values."""
    value = st.sampled_from(MATCH_VALUES)
    attr = st.tuples(
        st.sampled_from(MATCH_NAMES + ["TITLE", "Class"]),
        st.sampled_from(['"', "'", "", None]),
        value,
    ).map(
        lambda a: a[0] if a[1] is None
        else f"{a[0]}={a[1]}{a[2] if a[1] or a[2] else 'v'}{a[1]}"
    )
    tag = st.sampled_from(MATCH_TAGS)
    piece = st.one_of(
        st.tuples(tag, st.lists(attr, max_size=3)).map(
            lambda t: "<" + t[0] + "".join(" " + a for a in t[1]) + ">"
        ),
        tag.map(lambda n: f"</{n}>"),
        value,
        st.sampled_from([" title=s ", "a<p", "<", " "]),
    )
    return "".join(draw(st.lists(piece, max_size=30)))


@st.composite
def compounds(draw):
    """Bare tag, lone #id, lone .class, lone [attr], or DSL atoms (every
    operator spelling) with or without a tag."""
    kind = draw(st.sampled_from(["tag", "id", "class", "presence", "dsl", "tag_dsl"]))
    value = st.sampled_from(MATCH_VALUES)
    if kind == "tag":
        return Compound(tag=draw(st.sampled_from(MATCH_TAGS + ["LI"])))
    if kind == "id":
        return Compound(attributes=[Atom("id", "=", draw(value))])
    if kind == "class":
        return Compound(attributes=[Atom("class", "~=", draw(value))])
    if kind == "presence":
        return Compound(attributes=[Atom(draw(st.sampled_from(MATCH_NAMES)), "", "")])
    atom = st.builds(
        Atom,
        st.sampled_from(MATCH_NAMES),
        st.sampled_from(OPERATORS + [""]),
        st.sampled_from(DSL_VALUES),
    )
    tag = draw(st.sampled_from(MATCH_TAGS)) if kind == "tag_dsl" else None
    return Compound(tag=tag, attributes=draw(st.lists(atom, min_size=1, max_size=3)))


def _node_by_scan(doc, comp, j):
    """The per-node dispatch as first written, with no compiled state."""
    t, atoms = doc.tag[j], comp.attributes
    if comp.tag is not None and t != comp.tag.lower():
        return False
    if not atoms:
        return True
    if t not in KNOWN_TAGS:
        return False
    if comp.tag is None and len(atoms) == 1:
        atom = atoms[0]
        if atom.name == "id":
            return doc.attrs(j).get("id") == atom.value
        if atom.name == "class":
            return class_word_match(doc.attrs(j), atom.value.replace(" ", " AND "))
        if atom.is_presence:
            pat = re.compile(r"\s" + re.escape(atom.name), re.IGNORECASE)
            return pat.search(doc.starttag(j)) is not None
    conditions = build_conditions(atoms)
    return bool(parse_fields(conditions)) and eval_conditions(doc.attrs(j), conditions)


def _range_by_scan(doc, comp, lo, hi):
    ids = [
        j for j in range(doc.n)
        if lo <= doc.start_l[j] < hi and _node_by_scan(doc, comp, j)
    ]
    lone_id = comp.tag is None and [a.name for a in comp.attributes] == ["id"]
    return ids[:1] if lone_id else ids


def _chain_by_scan(doc, chain, scopes):
    nodes = None
    for comp in chain:
        if comp.is_empty:
            return []
        if comp.direct and nodes is not None:
            nodes = [
                ch for nd in nodes for ch in range(doc.n)
                if doc.parent_l[ch] == nd and _node_by_scan(doc, comp, ch)
            ]
        else:
            ranges = scopes if nodes is None else [
                (doc.cstart_l[k], doc.cend_l[k]) for k in nodes
            ]
            nodes = list(dict.fromkeys(
                j for lo, hi in ranges for j in _range_by_scan(doc, comp, lo, hi)
            ))
        if not nodes:
            return []
    return nodes or []


@settings(max_examples=600, deadline=None)
@given(attr_soup(), compounds(), st.integers(0, 150), st.integers(0, 150))
# re.I folds the long s into 's'; a .lower() needle would miss it
@example('<p title="\u017f">x</p>', Compound(attributes=[Atom("title", "*=", "s")]), 0, 0)
@example('<p title="\u017fa">', Compound(tag="p", attributes=[Atom("title", "^=", "S")]), 0, 0)
# overlapping occurrences of the needle
@example('<b>a</b><p title="aaa">', Compound(attributes=[Atom("title", "*=", "aa")]), 0, 0)
# the longer OR needle holds '<' and is rejected at 'a<p', in the text
# of <i>: the scan must resume at the next node's start, no later
@example(
    '<i>a<p title="b">',
    Compound(attributes=[Atom("title", "*=", 'b OR title *= a<p title="b')]),
    0, 0,
)
# the leftmost hit starts in the start tag but runs past its end: the
# scan must resume at s + 1 to find the shorter hit inside the tag
@example(
    '<p title="ab">c<b>',
    Compound(attributes=[Atom("title", "*=", 'ab">c OR title *= b')]),
    0, 0,
)
# a one-character needle fills the text: one hit per node's text, kept
# only where it sits in a start tag
@example(
    "<p class=a>aaaa<b class='b a'>a a a</b>aa<i class=ab>aaa<u class=a>",
    Compound(attributes=[Atom("class", "~=", "a")]),
    0, 0,
)
# an empty class word matches a missing class attribute: no needle
@example("<p>x</p><div class='a  b'>", Compound(attributes=[Atom("class", "~=", "a  b")]), 0, 0)
@example("<p>x</p><div class='a  b'>", Compound(attributes=[Atom("class", "", "")]), 0, 0)
# loose compare is numeric: '1.0' equals '1', so '=' has no needle
@example('<p n="1">', Compound(attributes=[Atom("n", "=", "1.0")]), 0, 0)
def test_scan_first_matching_equals_full_scan(html, comp, lo, span):
    doc = DocIndex(html)
    for a, b in ((0, len(html)), (lo, lo + span)):
        assert _match_in_range(doc, _compiled(comp), a, b) == _range_by_scan(doc, comp, a, b)
    assert find_nodes(doc, [[comp]], [(0, len(html))]) == _range_by_scan(
        doc, comp, 0, len(html)
    )


@settings(max_examples=400, deadline=None)
@given(attr_soup(), st.lists(st.tuples(compounds(), st.booleans()), min_size=1, max_size=3))
# nested lists: children come by parent in step order, then by id
@example(
    "<ul><li>a<ul><li>b</li></ul></li><li>c</li></ul>",
    [(Compound(tag="ul"), False), (Compound(tag="li"), True)],
)
def test_eval_chain_equals_full_scan(html, steps):
    doc = DocIndex(html)
    chain = [Compound(direct=d, tag=c.tag, attributes=c.attributes) for c, d in steps]
    scopes = [(0, len(html))]
    want = _chain_by_scan(doc, chain, scopes)
    assert eval_chain(doc, chain, scopes) == want
    assert find_nodes(doc, [chain], scopes) == sorted(want, key=doc.start_l.__getitem__)


# -- static scan API vs a full node scan -----------------------------------

def _static_by_scan(html, kind, arg):
    """The five reference scans as full node passes: tag compare (no
    whitelist), then on KNOWN_TAGS nodes strict id equality (first only),
    class words, the textual presence regex, and the condition DSL."""
    doc = DocIndex(html)
    presence = re.compile(r"\s" + re.escape(arg), re.IGNORECASE)
    test = {
        "tag": lambda j: doc.tag[j] == arg.strip().lower(),
        "id": lambda j: doc.attrs(j).get("id") == arg,
        "class": lambda j: class_word_match(doc.attrs(j), arg),
        "attribute": lambda j: presence.search(doc.starttag(j)) is not None,
        "attributes": lambda j: bool(parse_fields(arg))
        and eval_conditions(doc.attrs(j), arg),
    }[kind]
    ids = [
        j for j in range(doc.n)
        if (kind == "tag" or doc.tag[j] in KNOWN_TAGS) and test(j)
    ]
    if kind == "id":
        ids = ids[:1]
    return {doc.start_l[j]: doc.starttag(j) for j in ids}


STATIC_SCANS = {
    "tag": get_elements_by_tag,
    "id": get_element_by_id,
    "class": get_elements_by_class,
    "attribute": get_elements_by_attribute,
    "attributes": get_elements_by_attributes,
}


@st.composite
def static_calls(draw):
    """One static scan and its argument, drawn from the matcher pools;
    class values include empty words and OR groups."""
    kind = draw(st.sampled_from(sorted(STATIC_SCANS)))
    if kind == "tag":
        arg = draw(st.sampled_from(MATCH_TAGS + ["LI", " p "]))
    elif kind == "attribute":
        arg = draw(st.sampled_from(MATCH_NAMES + ["TITLE", "tit", "x"]))
    elif kind == "attributes":
        arg = " AND ".join(
            " ".join(a) for a in draw(st.lists(st.tuples(
                st.sampled_from(MATCH_NAMES),
                st.sampled_from(OPERATORS),
                st.sampled_from(DSL_VALUES),
            ), min_size=1, max_size=2))
        )
        arg = draw(st.sampled_from([arg, "justaname", "", f"  {arg} "]))
    else:
        arg = draw(st.sampled_from(
            MATCH_VALUES + ["a  AND b", "a OR b", "aa OR a AND b", "a AND  AND b"]
        ))
    return kind, arg


@settings(max_examples=500, deadline=None)
@given(attr_soup(), static_calls())
# R-quirk 11: presence is textual, so a name inside a value, or a prefix
# of a longer name, matches
@example('<div data-x="a title">x</div>', ("attribute", "title"))
@example('<div title="x">x</div>', ("attribute", "tit"))
# the empty class word matches a missing class attribute
@example("<p>x</p><div class='a  b'>", ("class", ""))
@example("<p>x</p><div class='a b'>", ("class", "a  AND b"))
# getElementById breaks at its first match
@example('<p id="s">a</p><p id="s">', ("id", "s"))
# the attribute-dispatched scans keep the tag whitelist; the tag scan not
@example('<blink id="s" class="s" title="s">', ("tag", "blink"))
@example('<blink id="s" class="s" title="s">', ("id", "s"))
@example('<blink id="s" class="s" title="s">', ("class", "s"))
@example('<blink id="s" class="s" title="s">', ("attribute", "title"))
@example('<blink id="s" class="s" title="s">', ("attributes", "title = s"))
def test_static_scans_equal_full_scan(html, call):
    kind, arg = call
    assert STATIC_SCANS[kind](arg, html) == _static_by_scan(html, kind, arg)


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
