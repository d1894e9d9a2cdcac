"""Traversal extensions (prev/next/parent/parents/contents_list,
filter_nodes) + the attribute-dispatch tag-whitelist quirk."""

import gc
import random
import time

from parse_html_spark.dom import PH
from parse_html_spark.tokenizer import DocIndex

DOC = (
    '<div id="w"><ul><li id="a">A</li><li id="b">B</li><li id="c">C</li>'
    "</ul><p>tail</p></div>"
)


def test_prev_next():
    b = PH(DOC).find("#b")
    assert b.prev().attr("id") == "a"
    assert b.next().attr("id") == "c"
    assert len(PH(DOC).find("#a").prev()) == 0
    assert PH(DOC).find("ul").next().text() == "tail"


def _siblings_by_index(doc: DocIndex, offset: int) -> list[int | None]:
    """Per node, the sibling ``offset`` places away by list position in
    its parent's children (the roots for a root), else None."""
    kids: dict[int, list[int]] = {}
    for j, p in enumerate(doc.parent_l):
        kids.setdefault(p, []).append(j)
    out = []
    for j, p in enumerate(doc.parent_l):
        sibs = kids[p]
        k = sibs.index(j) + offset
        out.append(sibs[k] if 0 <= k < len(sibs) else None)
    return out


def _soup(rng: random.Random) -> str:
    tags = ["div", "b", "i", "p", "ul", "li"]
    pieces = []
    for _ in range(rng.randrange(30)):
        a, b, c = (rng.choice(tags) for _ in range(3))
        pieces.append(rng.choice([
            f"<{a}>", f"</{a}>", "x", "<br>",
            # <b> outlives <a>, so <c> after </a> is a child of <b>
            f"<{a}>x<{b}>y</{a}><{c}>z</{c}>w</{b}>",
        ]))
    return "".join(pieces)


def test_prev_next_equal_list_position_on_roots_and_crossings():
    rng = random.Random(13)
    docs = ["<b><i></b><p>x</p></i><div>y</div>", "<p>a</p>t<p>b</p><br>"]
    docs += [_soup(rng) for _ in range(500)]
    for html in docs:
        doc = DocIndex(html)
        for offset, step in ((1, PH.next), (-1, PH.prev)):
            want = _siblings_by_index(doc, offset)
            for j in range(doc.n):
                got = step(PH(html, doc, [j])).nodes
                assert got == ([] if want[j] is None else [want[j]]), (html, j)
            every = step(PH(html, doc, list(range(doc.n)))).nodes
            assert every == sorted({k for k in want if k is not None}), html


def test_prev_next_linear_in_siblings():
    """10x the siblings costs ~10x the time: a sibling is one subtree
    jump or one climb, not a search of the parent's child list. Best of
    5 walls per size, the sizes alternating; the cyclic collector is
    paused while timing."""
    sizes = (4_000, 40_000)
    pages = {k: "<ul>" + "<li>x</li>" * k + "</ul>" for k in sizes}
    best = dict.fromkeys(sizes, float("inf"))
    for _ in range(5):
        for k in sizes:
            li = PH(pages[k]).find("li")
            gc.collect()
            gc.disable()
            try:
                t0 = time.perf_counter()
                nxt, prv = li.next(), li.prev()
                best[k] = min(best[k], time.perf_counter() - t0)
            finally:
                gc.enable()
            assert len(nxt) == len(prv) == k - 1
    assert best[40_000] / best[4_000] <= 15, best


def test_parent_and_parents():
    b = PH(DOC).find("#b")
    assert b.parent().html().startswith("<ul>")
    ps = b.parents()
    assert len(ps) == 2  # ul, div
    assert b.parents("div").attr("id") == "w"


def test_next_with_filter():
    a = PH(DOC).find("#a")
    assert a.next("li").attr("id") == "b"
    assert len(a.next("p")) == 0


def test_contents_list():
    out = PH("<p>one <b>two</b> three</p>").find("p").contents_list()
    assert out[0] == "one "
    assert out[1].text() == "two"
    assert out[2] == " three"


def test_filter_nodes_udf_hook():
    r = PH(DOC).find("li").filter_nodes(
        lambda d, n: d.attrs(n).get("id") in ("a", "c")
    )
    assert [r.eq(i).attr("id") for i in range(len(r))] == ["a", "c"]


def test_attribute_dispatch_tag_whitelist():
    doc = '<custom-x title="t">X</custom-x><p title="t">P</p>'
    # note: tag charset is [a-zA-Z][a-zA-Z0-9]*, so '<custom-x' tokenizes
    # as tag 'custom'; still not in the whitelist
    assert len(PH(doc).find("[title]")) == 1
    assert PH(doc).find("[title]").text() == "P"
    assert len(PH(doc).find('[title="t"]')) == 1
    # tag-dispatched scan does NOT validate the whitelist
    assert len(PH(doc).find("custom")) == 1


def test_presence_is_textual_scan_quirk11():
    # R-quirk 11 (ParseHTML.php:488-493): bare [attr] presence is a
    # whitespace+name TEXTUAL scan over the start tag, so the name
    # inside an attribute VALUE also matches
    doc = '<img alt="my title here"><p data-x="1">t</p>'
    assert len(PH(doc).find("[title]")) == 1
    assert PH(doc).find("[title]").attr("alt") == "my title here"
    # but valued operators go through the attribute map: no title attr
    assert len(PH(doc).find("[title*=my]")) == 0


def test_whitelist_with_dsl_conditions():
    doc = '<blink data-n="5">old</blink><em data-n="5">em</em>'
    assert PH(doc).find("[data-n>1]").text() == "em"
    assert PH(doc).find("blink").text() == "old"
