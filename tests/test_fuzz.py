"""Crash-safety fuzz: arbitrary input must never raise -- invalid
selectors compile to None (chainable empty), arbitrary byte soup
tokenizes to a consistent index, attrs parse to a dict. Tag soup also
pins the container descent's sibling walk to its linear-scan
definition, the subtree ends and children to the parent chain, the
scan-first selector matcher and the static scan API to
full node scans, and adversarial nesting depth never makes the
boilerplate strip raise.

Parity against the code each fast path replaced, kept here as the
oracle: the leaf-token DocIndex loop against the tag-by-tag token loop,
the prefix-difference masses against clipped region masses, the
columnar emit against the event-sorting emit, and the iterative
extract walk (tree and value-only modes) and value_only against a
recursive extract_node and a recursive value-only collapse."""

import bisect
import re
from operator import itemgetter

import numpy as np

import hypothesis.strategies as st
from hypothesis import example, given, settings

from parse_html_spark.boilerplate import (
    DESCEND_FRACTION,
    LINK_DENSITY_MAX,
    MIN_ANCHORS,
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
from parse_html_spark.extract import (
    _keep,
    extract_node,
    extract_table_list,
    value_only,
)
from parse_html_spark.selector import Atom, Compound, compile_selector
from parse_html_spark.tokenizer import (
    KNOWN_TAGS,
    TOKEN_RE,
    VOID_TAGS,
    DocIndex,
    parse_attrs,
    trim_html,
)


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


def _container_by_scan(doc, m_all):
    """Rule 2 as first written: at every level, scan the container's
    whole subtree slice of the parent array for its children."""
    lo, hi = 0, len(doc.html)
    if doc.n == 0:
        return lo, hi
    tl, al = _whole_doc_clipped(doc)
    m_cur = int(tl - al)
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
    assert (lo, hi) == _container_by_scan(doc, m_all)
    # the descent's whole-document mass is the two prefix-sum totals
    whole_tl, whole_al = _whole_doc_clipped(doc)
    assert tm.cum[-1] == whole_tl
    assert tm.acum[-1] == whole_al
    # pruning without precomputed masses computes the same ones
    assert pruned_ranges(doc, tm, lo, hi) == pruned_ranges(
        doc, tm, lo, hi, tl, al
    )


# -- subtree ends and children vs the parent chain -------------------------

def _children_index(doc):
    """Children lists by one pass over the parent pointers: entry i for
    node i, the roots last (at index -1)."""
    kids = [[] for _ in range(doc.n + 1)]
    for j, p in enumerate(doc.parent_l):
        kids[p].append(j)
    return kids


@settings(max_examples=400, deadline=None)
@given(tag_soup())
# <p> starts after </b> but is a descendant of <b> through <i>
@example("<b><i></b><p>x</p></i>")
@example("<table><tr><td><i>a</td></tr></table><table><tr><td>b</td></tr></table></i>")
def test_subtree_ends_and_children_match_parent_chain(html):
    doc = DocIndex(html)
    n, parent_l = doc.n, doc.parent_l

    def within(j, i):  # j is i or a descendant of i
        while j > i:
            j = parent_l[j]
        return j == i

    for i in range(n):
        end = doc.subtree_end_l[i]
        assert [within(j, i) for j in range(n)] == [i <= j < end for j in range(n)]
    kids = _children_index(doc)
    for i in range(-1, n):
        assert doc.children_of(i) == kids[i]


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


# -- leaf-token DocIndex vs the tag-by-tag token loop ------------------------

def _index_by_token_loop(html):
    """DocIndex's arrays as the loop over TOKEN_RE built them, one markup
    token per turn: open tags push per-name stacks, exact closers pop;
    parents from an interval stack that every container enters."""
    tags, starts, st_ends, tstart, tend, closures = [], [], [], [], [], []
    stacks: dict = {}
    pos = 0
    for m in TOKEN_RE.finditer(html):
        s_tok, e_tok = m.span()
        if s_tok > pos:
            tstart.append(pos)
            tend.append(s_tok)
        pos = e_tok
        if m.lastindex == 1:
            lname = m[1].lower()
            idx = len(tags)
            tags.append(lname)
            starts.append(s_tok)
            st_ends.append(e_tok)
            if lname not in VOID_TAGS:
                stacks.setdefault(lname, []).append(idx)
        elif m.lastindex == 2:
            cname = m[2]
            if e_tok - s_tok == len(cname) + 3:
                stack = stacks.get(cname.lower())
                if stack:
                    closures.append((stack.pop(), s_tok, e_tok))
    if pos < len(html):
        tstart.append(pos)
        tend.append(len(html))
    ends, cends = st_ends.copy(), st_ends.copy()
    for idx, c_s, c_e in closures:
        ends[idx] = c_e
        cends[idx] = c_s
    parent = [-1] * len(tags)
    open_nodes: list = []
    for i, s_i in enumerate(starts):
        while open_nodes and ends[open_nodes[-1]] <= s_i:
            open_nodes.pop()
        if open_nodes:
            parent[i] = open_nodes[-1]
        if ends[i] > st_ends[i]:
            open_nodes.append(i)
    return {
        "tag": tags, "start": starts, "end": ends, "cstart": st_ends,
        "cend": cends, "parent": parent, "tstart": tstart, "tend": tend,
    }


LEAF_NAMES = ["b", "B", "bx", "br", "BR", "a", "img", "div", "p", "nav", "Div", "x1"]


@st.composite
def leaf_soup(draw):
    """Leaf elements with exact, other-case, other-name and inexact
    closers, among open tags, closers, void names, specials, stray '<'
    and text: every way a leaf token can be almost right."""
    name = st.sampled_from(LEAF_NAMES)
    text = st.sampled_from(["", "t", " x y ", "a>b", "0", "\n  "])
    attrs = st.sampled_from(["", " id=1", " class='a b'", "/", " x"])
    piece = st.one_of(
        st.tuples(name, attrs, text, name).map(
            lambda a: f"<{a[0]}{a[1]}>{a[2]}</{a[3]}>"
        ),
        st.tuples(name, attrs, text).map(lambda a: f"<{a[0]}{a[1]}>{a[2]}</{a[0]}>"),
        st.tuples(name, text).map(lambda a: f"<{a[0]}>{a[1]}</{a[0]} >"),
        st.tuples(name, attrs).map(lambda a: f"<{a[0]}{a[1]}>"),
        name.map(lambda n: f"</{n}>"),
        st.sampled_from(["<!-- c -->", "<?pi?>", "<", "< b", "<3", "</>", "</ b>"]),
        text,
    )
    return "".join(draw(st.lists(piece, max_size=30)))


@settings(max_examples=600, deadline=None)
@given(leaf_soup())
# a possessive name: <bx> is never retried as a leaf named b
@example("<bx>t</b>")
# the leaf closer is same-case; <B>..</b> closes through the stack
@example("<B>x</b>")
# a void leaf stays a bare node plus an orphan closer
@example("<br>x</br>")
# a leaf inside an unclosed element of the same name
@example("<b><b>x</b>")
@example("<b>y<b>x</b>z</b>")
def test_doc_index_equals_token_loop(html):
    doc = DocIndex(html)
    want = _index_by_token_loop(html)
    got = {
        "tag": doc.tag, "start": doc.start_l, "end": doc.end_l,
        "cstart": doc.cstart_l, "cend": doc.cend_l, "parent": doc.parent_l,
        "tstart": doc.tstart_l, "tend": doc.tend_l,
    }
    assert got == want


# -- prefix-difference masses and columnar emit vs clipped / sorted ---------

PAGE_TAGS = ["div", "p", "b", "a", "A", "nav", "NAV", "section", "span", "script"]
PAGE_TEXT = ["x", " ", "  \n ", "body text of some length ", "z" * 30, "a  b"]


@st.composite
def page_soup(draw):
    """Tag soup with what the scorer reads: anchors (link-dense runs),
    boilerplate tags, img/embed media, crossing and unclosed elements.
    Upper-case names and a void media leaf (``<img>x</img>``, a bare
    node plus an orphan closer) pin the case folding and the void rule
    of the tag sets the scorer derives."""
    t = st.sampled_from(PAGE_TAGS)
    text = st.sampled_from(PAGE_TEXT)
    piece = st.one_of(
        t.map(lambda n: f"<{n}>"),
        t.map(lambda n: f"</{n}>"),
        st.tuples(t, text).map(lambda a: f"<{a[0]}>{a[1]}</{a[0]}>"),
        text.map(lambda x: f"<a href='/'>{x}</a>"),
        text.map(lambda x: f"<A HREF='/'>{x}</A>"),
        st.tuples(t, t, text, text).map(
            lambda a: f"<{a[0]}>{a[2]}<{a[1]}>{a[3]}</{a[0]}>{a[2]}</{a[1]}>"
        ),
        st.sampled_from([
            "<img src='m'>", "<img data-src='d'>", "<embed>", "<br>",
            "<IMG SRC='u'>", "<img src='m'>x</img>", "<!-- c -->",
        ]),
        text,
    )
    return "".join(draw(st.lists(piece, max_size=40)))


def _clipped_mass(starts, ends, lo, hi):
    """Covered length of [lo_i, hi_i) against sorted disjoint regions,
    clipping the end regions."""
    cum = np.concatenate(([0], np.cumsum(ends - starts)))
    lo = np.asarray(lo, dtype=np.int64)
    hi = np.asarray(hi, dtype=np.int64)
    if len(starts) == 0:
        return np.zeros(len(lo), dtype=np.int64)
    a = ends.searchsorted(lo, side="right")
    b = starts.searchsorted(hi, side="left")
    a_c = np.minimum(a, len(starts) - 1)
    b_c = np.maximum(b - 1, 0)
    total = cum[b] - cum[a]
    left = np.maximum(0, lo - starts[a_c])
    right = np.maximum(0, ends[b_c] - hi)
    return np.maximum(np.where(b > a, total - left - right, 0), 0)


def _top_anchors(doc):
    """Anchors that no earlier anchor's outer span contains."""
    anchors = [i for i, t in enumerate(doc.tag) if t == "a"]
    return [
        i for i in anchors
        if not any(
            doc.start_l[j] <= doc.start_l[i] < doc.end_l[j]
            for j in anchors if j < i
        )
    ]


def _clip_regions(doc):
    """The text regions, and the anchor regions: text regions cut to
    each top-level anchor's contents."""
    ts = np.asarray(doc.tstart_l, dtype=np.int64)
    te = np.asarray(doc.tend_l, dtype=np.int64)
    ats, ate = [], []
    for i in _top_anchors(doc):
        alo, ahi = doc.cstart_l[i], doc.cend_l[i]
        for s, e in zip(doc.tstart_l, doc.tend_l):
            s, e = max(s, alo), min(e, ahi)
            if e > s:
                ats.append(s)
                ate.append(e)
    ats = np.asarray(ats, dtype=np.int64)
    ate = np.asarray(ate, dtype=np.int64)
    return ts, te, ats, ate


def _masses_by_clipping(doc):
    """(text_len, anchor_len) per node by clipping the text regions and
    the anchor regions to its contents."""
    ts, te, ats, ate = _clip_regions(doc)
    cs, ce = doc.cstart, doc.cend
    return _clipped_mass(ts, te, cs, ce), _clipped_mass(ats, ate, cs, ce)


def _whole_doc_clipped(doc):
    """(text_len, anchor_len) of [0, len(html)) by clipping."""
    ts, te, ats, ate = _clip_regions(doc)
    lo, hi = [0], [len(doc.html)]
    return int(_clipped_mass(ts, te, lo, hi)[0]), int(_clipped_mass(ats, ate, lo, hi)[0])


RULE3_TAGS = {
    "nav", "footer", "aside", "header", "script", "style", "form", "iframe",
    "noscript",
}


def _pruned_by_scan(doc, lo, hi, tl, al):
    """Rule 3 node by node: outer spans of the outermost nodes starting
    in [lo, hi) that have a boilerplate tag or are link-dense."""
    anchor_starts = [doc.start_l[i] for i in _top_anchors(doc)]
    out = []
    for j in range(doc.n):
        s, e = doc.start_l[j], doc.end_l[j]
        if not lo <= s < hi or (out and s < out[-1][1]):
            continue
        na = sum(doc.cstart_l[j] <= a < doc.cend_l[j] for a in anchor_starts)
        dense = na >= MIN_ANCHORS and tl[j] > 0 and al[j] > LINK_DENSITY_MAX * tl[j]
        if doc.tag[j] in RULE3_TAGS or dense:
            out.append((s, e))
    return out


def _spans_by_events(doc, lo, hi, pruned, media_positions):
    """Rule 4 as an event list: text pieces (regions clipped to the
    container, cut at pruned ranges and media positions) and media, one
    stable sort by (position, media first)."""
    plo = [p[0] for p in pruned]

    def in_pruned(pos):
        k = bisect.bisect_right(plo, pos) - 1
        return k >= 0 and pos < pruned[k][1]

    breaks = sorted(pruned + [(p, p) for p, _ in media_positions])
    events = []
    for s, e in zip(doc.tstart_l, doc.tend_l):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        pos = s
        for ps, pe in breaks:
            if ps >= e:
                break
            if pe < pos:
                continue
            if ps > pos:
                t = trim_html(doc.html[pos:ps])
                if t:
                    events.append((pos, 1, "text", t, None))
            pos = max(pos, pe)
        if pos < e:
            t = trim_html(doc.html[pos:e])
            if t:
                events.append((pos, 1, "text", t, None))
    for j, t in enumerate(doc.tag):
        s_j = doc.start_l[j]
        if t in ("img", "embed") and lo <= s_j < hi and not in_pruned(s_j):
            a = doc.attrs(j)
            events.append((s_j, 0, "media", "", a.get("src") or a.get("data-src") or ""))
    for pos, ref in media_positions:
        if lo <= pos <= hi and not in_pruned(pos):
            events.append((pos, 0, "media", "", ref))
    events.sort(key=itemgetter(0, 1))
    return [(kind, text, ref) for _, _, kind, text, ref in events]


@settings(max_examples=600, deadline=None)
@given(page_soup(), st.lists(st.integers(0, 10**6), max_size=4), st.lists(st.integers(0, 10**6), max_size=4))
# cuts at a region's start, inside it, at its end, twice, and out of order
@example("<div><p>ab cd</p><img src='m'></div>", [3, 4, 4, 5, 0], [])
@example("<nav><a href='/'>x</a><a href='/'>y</a></nav>tail", [], [0, 1, 1, 2])
def test_masses_and_emit_equal_clipped_event_forms(html, cuts, edge_picks):
    doc = DocIndex(html)
    tm = TextMass(doc)
    tl, al = node_masses(doc, tm)
    want_tl, want_al = _masses_by_clipping(doc)
    assert tl.tolist() == want_tl.tolist()
    assert al.tolist() == want_al.tolist()
    lo, hi = find_main_container(doc, tm)
    pruned = pruned_ranges(doc, tm, lo, hi)
    assert pruned == _pruned_by_scan(doc, lo, hi, want_tl, want_al)
    edges = sorted(doc.tstart_l + doc.tend_l) or [0]
    media = [(c % (len(html) + 1), f"c{k}") for k, c in enumerate(cuts)]
    media += [(edges[p % len(edges)], f"e{k}") for k, p in enumerate(edge_picks)]
    media += media[:1]  # a duplicate cut
    for m in (media, []):
        assert main_content_spans(doc, m) == _spans_by_events(doc, lo, hi, pruned, m)


# -- iterative extract walk and value_only vs their recursive forms ---------

def _extract_node_by_recursion(doc, kids, i, prune_tag=None):
    """extract_node by recursion over ``kids``, a _children_index."""
    if doc.is_bare(i):
        return doc.outer(i)
    buf, c = "", []
    pos = doc.cstart_l[i]
    for ch in kids[i]:
        buf += doc.html[pos:doc.start_l[ch]]
        pos = doc.end_l[ch]
        if prune_tag is not None and doc.tag[ch] == prune_tag:
            continue
        t = trim_html(buf)
        buf = ""
        if _keep(t):
            c.append(t)
        c.append(_extract_node_by_recursion(doc, kids, ch, prune_tag))
    t = trim_html(buf + doc.html[pos:doc.cend_l[i]])
    if _keep(t):
        c.append(t)
    return {"t": doc.tag[i], "a": dict(doc.attrs(i)), "c": c}


def _value_only_by_recursion(tree):
    """extractValueOnly by recursion [ParseHTMLAdvanced.php:664-684]: a
    string stays, no children -> '', one child -> its collapse, more ->
    the list of their collapses."""
    if isinstance(tree, str):
        return tree
    c = [_value_only_by_recursion(ch) for ch in tree["c"]]
    if not c:
        return ""
    return c[0] if len(c) == 1 else c


@st.composite
def table_soup(draw):
    """Tables nested in cells, single-child chains, bare and unclosed
    cells, '0' text (dropped, as PHP empty()) and comments."""
    t = st.sampled_from(["table", "tr", "td", "div", "span", "TD"])
    text = st.sampled_from(["x", "0", " ", "a  b", "<!-- c -->"])
    piece = st.one_of(
        t.map(lambda n: f"<{n} class=c>"),
        t.map(lambda n: f"</{n}>"),
        st.tuples(t, text).map(lambda a: f"<{a[0]}>{a[1]}</{a[0]}>"),
        st.sampled_from(["<br>", "<img src='i'>", "<table><tr><td>n</td></tr></table>"]),
        text,
    )
    return "".join(draw(st.lists(piece, max_size=40)))


@settings(max_examples=400, deadline=None)
@given(table_soup())
@example("<table><tr><td>a<table><tr><td>b</td></tr></table>c</td></tr></table>")
@example("<table><tr><td><div><span>x</span></div></td><td></td></tr></table>")
# <i> outlives <td>: the <p> after </td> is a descendant of the cell
@example("<table><tr><td>a<i>b</td>c<p>d</p>e</i></tr></table>")
# the second table is a crossing descendant of the first, outside its
# span: a selection of the first alone prunes a table it never walked
@example("<table><tr><td><i>a</td></tr></table><table><tr><td>b</td></tr></table></i>")
def test_extract_walk_equals_recursion(html):
    ph = PH(html)
    doc = ph.doc
    tables = ph.find("table")
    kids = _children_index(doc)
    want = [_extract_node_by_recursion(doc, kids, t, "table") for t in tables.nodes]
    assert extract_table_list(tables) == want
    assert extract_table_list(ph) == want
    for k in range(len(want)):
        assert extract_table_list(tables.eq(k))[0] == want[k]
    want_v = [_value_only_by_recursion(t) for t in want]
    assert extract_table_list(tables, val_only=True) == want_v
    assert [value_only(extract_node(doc, t, prune_tag="table")) for t in tables.nodes] == want_v
    for i in range(doc.n):
        assert extract_node(doc, i) == _extract_node_by_recursion(doc, kids, i)
