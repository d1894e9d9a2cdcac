"""Direct unit tests for the pinned boilerplate-strip spec
(parse_html_spark/boilerplate.py docstring rules 1-5)."""

import time

from parse_html_spark.boilerplate import (
    TextMass,
    find_main_container,
    main_content_spans,
    pruned_ranges,
)
from parse_html_spark.tokenizer import DocIndex

PAGE = (
    "<html><body>"
    '<nav class="m"><a href="/1">one</a> <a href="/2">two</a></nav>'
    "<div id=\"main\">"
    "<p>The first real paragraph of body text goes right here.</p>"
    "<p>A second paragraph with even more body text for mass.</p>"
    '<div class="linkfarm"><a href="/x">x1</a> <a href="/y">y2</a> '
    '<a href="/z">z3</a></div>'
    '<img src="pic.png">'
    "</div>"
    '<footer><a href="/c">contact</a></footer>'
    "</body></html>"
)


def test_container_is_main_div():
    doc = DocIndex(PAGE)
    tm = TextMass(doc)
    lo, hi = find_main_container(doc, tm)
    main = doc.tag.index("div")
    assert (lo, hi) == (int(doc.cstart[main]), int(doc.cend[main]))


def test_linkfarm_pruned_but_paragraphs_kept():
    doc = DocIndex(PAGE)
    tm = TextMass(doc)
    lo, hi = find_main_container(doc, tm)
    pruned = pruned_ranges(doc, tm, lo, hi)
    farm = doc.tag.index("div", doc.tag.index("div") + 1)
    assert (doc.start_l[farm], doc.end_l[farm]) in pruned


def test_output_spans_golden():
    spans = main_content_spans(DocIndex(PAGE))
    assert spans == [
        ("text", "The first real paragraph of body text goes right here.", None),
        ("text", "A second paragraph with even more body text for mass.", None),
        ("media", "", "pic.png"),
    ]


def test_single_inline_anchor_not_pruned():
    page = (
        "<div><p>Body text with one <a href='/r'>inline link</a> kept "
        "because a paragraph with a single anchor is content.</p></div>"
    )
    spans = main_content_spans(DocIndex(page))
    joined = " ".join(t for k, t, _ in spans if k == "text")
    assert "inline link" in joined


def test_empty_and_textless_docs():
    assert main_content_spans(DocIndex("")) == []
    assert main_content_spans(DocIndex("<div><img src='x'></div>")) == [
        ("media", "", "x")
    ]


def test_media_positions_outside_container_dropped():
    page = "<body><nav><a href='/1'>n1</a> <a href='/2'>n2</a></nav><div><p>" + (
        "body word " * 30
    ) + "</p></div></body>"
    doc = DocIndex(page)
    # media sitting inside the nav (position 10) is outside the main
    # container; media at the container midpoint survives
    tm_lo, tm_hi = find_main_container(doc, TextMass(doc))
    mid = (tm_lo + tm_hi) // 2
    spans = main_content_spans(doc, [(10, "media://out"), (mid, "media://in")])
    refs = [r for k, _t, r in spans if k == "media"]
    assert refs == ["media://in"]


ARTICLE = (
    "<article><h1>A headline</h1>"
    + "".join(
        f"<p>Paragraph {i} of the article body, in plain words.</p>"
        for i in range(8)
    )
    + '<img src="fig.png"></article>'
)


def _nested_page(depth: int) -> str:
    return (
        "<html><body>"
        '<nav><a href="/1">one</a> <a href="/2">two</a></nav>'
        + '<div class="nest">' * depth
        + ARTICLE
        + "</div>" * depth
        + "<footer>foot</footer></body></html>"
    )


def test_100k_deep_article_matches_shallow_twin():
    spans = main_content_spans(DocIndex(_nested_page(100_000)))
    assert spans == main_content_spans(DocIndex(_nested_page(1)))
    assert spans[-1] == ("media", "", "fig.png")


def test_container_descent_cost_linear_in_depth():
    """10x the nesting depth costs ~10x the time (quadratic would be
    ~100x); best-of-3 walls so one host hiccup does not decide."""

    def best_wall(depth: int) -> float:
        doc = DocIndex(_nested_page(depth))
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            main_content_spans(doc)
            walls.append(time.perf_counter() - t0)
        return min(walls)

    assert best_wall(100_000) / best_wall(10_000) <= 30
