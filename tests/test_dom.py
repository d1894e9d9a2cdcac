"""find / children / eq / terminals semantics, pinned per SURVEY.md 2.3-2.4
and the R-quirk ledger (2.11)."""

from parse_html_spark.dom import PH

DOC = """<html><body>
<div id="main" class="content wide">
  <ul class="topnav">
    <li><a href="/a" class="link first">Link A</a></li>
    <li><a href="/b" class="link">Link B</a></li>
  </ul>
  <p data-length="1000" title="Mari Kemari">Para <b>bold</b> text</p>
</div>
<div id="side" class="content narrow">
  <a href="top-menu" title="x">Side Link</a>
  <img src="pic.png" alt="Pic">
</div>
</body></html>"""


def test_find_by_tag():
    r = PH(DOC).find("li")
    assert len(r) == 2
    assert r.eq(0).text() == "Link A"
    assert r.eq(1).text() == "Link B"


def test_find_descendant_chain():
    r = PH(DOC).find("ul a")
    assert len(r) == 2
    r2 = PH(DOC).find("div ul li a")
    assert len(r2) == 2


def test_find_direct_child():
    assert len(PH(DOC).find("ul > li")) == 2
    assert len(PH(DOC).find("div > a")) == 1  # only the side link is direct
    assert len(PH(DOC).find("div a")) == 3


def test_find_by_id_first_match_only():
    r = PH(DOC).find("#main")
    assert len(r) == 1
    assert r.attr("id") == "main"
    doc2 = '<i id="x">1</i><em id="x">2</em>'
    assert PH(doc2).find("#x").text() == "1"  # strict, first match, break
    # first match per scope of the step before, nested scopes included:
    # the outer div's first #x is <i>, the inner div's is <b>
    doc3 = '<div><i id="x">a</i><div><b id="x">b</b></div></div>'
    r3 = PH(doc3).find("div #x")
    assert [r3.eq(i).html() for i in range(len(r3))] == [
        '<i id="x">a</i>',
        '<b id="x">b</b>',
    ]


def test_find_by_class_word():
    assert len(PH(DOC).find(".content")) == 2
    assert len(PH(DOC).find(".link")) == 2
    assert len(PH(DOC).find(".link.first")) == 1  # chained = all words
    assert len(PH(DOC).find(".nosuch")) == 0


def test_find_tag_with_class():
    r = PH(DOC).find("a.link")
    assert len(r) == 2
    assert PH(DOC).find("div.content.wide").attr("id") == "main"


def test_find_attribute_presence():
    assert len(PH(DOC).find("[title]")) == 2
    assert len(PH(DOC).find("[data-length]")) == 1


def test_tag_plus_presence_only_matches_nothing():
    # replicated dispatch quirk: tag + all-presence atoms -> getElement-
    # ByAttributes finds no parsable fields -> no candidates
    assert len(PH(DOC).find("img[alt]")) == 0
    # but with one parsable atom the presence atom is ignored (eval TRUE)
    assert len(PH(DOC).find('img[alt][src="pic.png"]')) == 1


def test_find_attribute_value_ops():
    assert len(PH(DOC).find('[href="/a"]')) == 1
    assert len(PH(DOC).find("[data-length>500]")) == 1
    assert len(PH(DOC).find("[data-length>2000]")) == 0
    assert len(PH(DOC).find('a[href^="/"]')) == 2
    assert len(PH(DOC).find("[href|=top]")) == 1


def test_multi_selector_union_dedup():
    r = PH(DOC).find("li, .link, [data-length]")
    # 2 li + 2 a.link + 1 p = 5 distinct
    assert len(r) == 5
    # self-union dedupes by position
    assert len(PH(DOC).find("li, li")) == 2


def test_find_scope_descendants_only():
    side = PH(DOC).find("#side")
    assert len(side.find("a")) == 1
    assert side.find("a").text() == "Side Link"
    # the element itself is not in its own find() scope
    assert len(side.find("div")) == 0


def test_invalid_selector_empty_chainable():
    r = PH(DOC).find("div,")
    assert len(r) == 0
    assert r.attr("id") is None
    assert r.text() == ""
    assert r.html() is None
    assert len(r.find("a")) == 0


def test_html_is_outer():
    assert PH(DOC).find("b").html() == "<b>bold</b>"
    ul = PH(DOC).find("ul").html()
    assert ul.startswith('<ul class="topnav">') and ul.endswith("</ul>")


def test_text_strip_tags_no_collapse():
    p = PH(DOC).find("p")
    assert p.text() == "Para bold text"
    ul_text = PH(DOC).find("ul").text()
    assert "Link A" in ul_text and "Link B" in ul_text
    assert "\n" in ul_text  # whitespace preserved, no trimHtml


def test_attr_terminal():
    assert PH(DOC).find("p").attr("title") == "Mari Kemari"
    assert PH(DOC).find("p").attr("data-length") == "1000"
    assert PH(DOC).find("p").attr("nosuch") is None
    assert PH(DOC).find("img").attr("src") == "pic.png"


def test_children():
    ul = PH(DOC).find("ul")
    assert len(ul.children()) == 2
    kids = PH(DOC).find("#main").children()
    assert len(kids) == 2  # ul + p
    assert len(kids.eq(0).children()) == 2


def test_children_with_filter():
    main = PH(DOC).find("#main")
    assert len(main.children("p")) == 1
    assert len(main.children("ul")) == 1
    assert len(main.children("a")) == 0  # grandchild, not child
    # descendant selectors are rejected by the child filter
    assert len(main.children("ul li")) == 0


def test_eq_out_of_range():
    r = PH(DOC).find("li")
    assert len(r.eq(5)) == 0
    assert len(r.eq(-1)) == 0  # no negative index support


def test_fresh_object_terminals():
    ph = PH("<div id='a'>x</div>")
    assert ph.html() == "<div id='a'>x</div>"
    assert ph.text() == "x"
    assert ph.attr("id") == "a"


def test_init_one_shot():
    assert PH.init(DOC, "b").text() == "bold"


def test_condition_dsl_multi_atom():
    assert len(PH(DOC).find('a[href="/a"][class~=link]')) == 1
    assert len(PH(DOC).find('a[href="/a"][class~=nosuch]')) == 0


def test_unclosed_element_text_empty():
    doc = "<div><span>never closed</div>"
    ph = PH(doc).find("span")
    assert len(ph) == 1
    assert ph.html() == "<span>"
    assert ph.text() == ""


def test_tag_with_attrs_enforces_whitelist():
    """Quirk 14 pin (SURVEY 2.11): a compound with a tag AND parsable
    attribute atoms routes through getElementByAttribute ->
    validateStartTag (ParseHTML.php:756, :504, :1481-1488), which
    enforces the 107-tag whitelist -- so 'blink[data-n>1]' matches
    nothing, while bare 'blink' (tag scan, no validation :756-758)
    matches."""
    doc = '<blink data-n="5">X</blink><p data-n="5">P</p>'
    assert len(PH(doc).find("blink")) == 1  # tag-only: no validation
    assert len(PH(doc).find("blink[data-n>1]")) == 0  # whitelist enforced
    assert len(PH(doc).find("p[data-n>1]")) == 1  # whitelisted tag passes
    assert len(PH(doc).find('blink[data-n="5"]')) == 0


def test_ref_compat_mode_direct_child_requery():
    """Opt-in A.8 bug-compat: 'div > a' also matches 'a' DEEPER inside
    the direct child (the reference re-searches the padded pseudo-element
    as descendants, ParseHTML.php:1796-1823); default mode is
    CSS-correct. Same fixture, both modes compared."""
    doc = '<div><ul><li><a href="/deep">D</a></li></ul><a href="/top">T</a></div>'
    plain = PH(doc).find("div > a")
    assert [plain.eq(i).text() for i in range(len(plain))] == ["T"]
    compat = PH(doc, ref_compat=True).find("div > a")
    got = [compat.eq(i).text() for i in range(len(compat))]
    assert got == ["D", "T"]  # document order: deep link first


def test_ref_compat_mode_children_filter_descendants():
    doc = '<div><ul><li class="x">L</li></ul><p class="x">P</p></div>'
    kids = PH(doc).find("div").children(".x")
    assert [kids.eq(i).text() for i in range(len(kids))] == ["P"]
    kids_c = PH(doc, ref_compat=True).find("div").children(".x")
    # compat: the ul child is kept because a .x DESCENDANT matches it
    got = [kids_c.eq(i).text() for i in range(len(kids_c))]
    assert got == ["L", "P"]


def test_ref_compat_mode_quoted_values():
    """Opt-in A.12 bug-compat: closing quote kept in the value (so the
    quoted selector never matches a well-formed attribute) and embedded
    spaces dropped; default consumes the quote and keeps spaces."""
    from parse_html_spark.selector import compile_selector

    doc = '<a href="x" title="a b">T</a>'
    assert len(PH(doc).find('[href="x"]')) == 1
    assert len(PH(doc, ref_compat=True).find('[href="x"]')) == 0  # value x"
    assert len(PH(doc).find('[title="a b"]')) == 1
    compat = compile_selector('[title="a b"]', ref_compat=True)
    assert compat[0][0].attributes[0].value == 'ab"'  # spaces dropped + quote
    assert len(PH(doc, ref_compat=True).find('[title="a b"]')) == 0


def test_cached_plans_stay_unmutated():
    """dom._cached_plan hands the SAME mutable Compound/list plan to every
    caller: find_nodes, find, children and the traversal filters must
    leave it exactly as compiled, in both selector modes."""
    import copy

    from parse_html_spark.dom import _cached_plan
    from parse_html_spark.fixtures import gen_doc
    from parse_html_spark.matcher import find_nodes
    from parse_html_spark.pipeline import assemble

    selectors = [
        "p", "#content-1", ".intro", "a[href^='/ref']", "img[alt]",
        "article p.detail", "ul > li", "h1, title", 'p[data-v="x"]',
        "table td", "li",
    ]
    for ref_compat in (False, True):
        plans = {s: _cached_plan(s, ref_compat) for s in selectors}
        frozen = copy.deepcopy(plans)
        for i in range(12):
            html, _ = assemble(gen_doc(i)["spans"])
            ph = PH(html, ref_compat=ref_compat)
            for s, plan in plans.items():
                find_nodes(ph.doc, plan, [(0, len(html))])
                found = ph.find(s)
                found.children(s)
                found.parent(s)
                found.next(s)
        assert plans == frozen
        assert all(_cached_plan(s, ref_compat) is plans[s] for s in selectors)


def test_selector_caches_stay_bounded():
    """Dynamic selectors must not grow worker memory: after 10k distinct
    ``[attrN]`` finds (lone presence and DSL atoms, plus the public DSL
    entry points and the static scans) every matcher / conditions cache is
    an lru_cache at or below its maxsize, and no module-level container
    has grown."""
    from parse_html_spark import conditions, matcher
    from parse_html_spark.dom import (
        get_element_by_id,
        get_elements_by_attribute,
        get_elements_by_attributes,
        get_elements_by_class,
    )

    html = '<p attr1="v1">x</p>'
    ph = PH(html)
    for k in range(10_000):
        ph.find(f"[attr{k}]")
        ph.find(f"p[attr{k}^=v]")
        conditions.eval_conditions({"a": "1"}, f"attr{k} = 1 OR a = {k}")
        matcher.class_word_match({"class": "x"}, f"c{k} OR x")
        get_elements_by_class(f"c{k} OR x", html)
        get_elements_by_attributes(f"attr{k} = 1", html)
        get_element_by_id(f"id{k}", html)
        get_elements_by_attribute(f"attr{k}", html)
    assert len(ph.find("[attr1]")) == len(ph.find("p[attr1^=v]")) == 1
    modules = (matcher, conditions)
    grown = [
        name for m in modules for name, v in vars(m).items()
        if not name.startswith("__")
        and isinstance(v, (dict, list, set)) and len(v) > 100
    ]
    assert grown == []
    caches = [f for m in modules for f in vars(m).values() if hasattr(f, "cache_info")]
    assert len(caches) >= 4
    for f in caches:
        info = f.cache_info()
        assert info.maxsize is not None and info.currsize <= info.maxsize, f
