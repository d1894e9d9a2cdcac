"""Static scan API parity (reference ParseHTML.php:473-812), including
the docblock examples for class AND/OR (:686-695) and the condition DSL
(:556-576)."""

from parse_html_spark.dom import (
    get_element_by_id,
    get_elements_by_attribute,
    get_elements_by_attributes,
    get_elements_by_class,
    get_elements_by_tag,
)

HTML = (
    '<body class="a b">'
    '<img class="x y">'
    '<div class="a x">'
    '<a class="a" title="Mari Kemari">L1</a>'
    '<a class="b" data-length="700">L2</a>'
    '<p id="form" method="GET">P</p>'
    "</div></body>"
)


def test_by_tag_positions_and_starttags():
    got = get_elements_by_tag("a", HTML)
    assert list(got.values()) == [
        '<a class="a" title="Mari Kemari">',
        '<a class="b" data-length="700">',
    ]
    assert all(HTML[p] == "<" for p in got)
    assert get_elements_by_tag("A", HTML) == got  # case-insensitive


def test_by_id_strict_first_break():
    got = get_element_by_id("form", HTML)
    assert list(got.values()) == ['<p id="form" method="GET">']
    assert get_element_by_id("nope", HTML) == {}


def test_by_class_and_or_docblock():
    # docblock 'class contains word a OR class contains word x' shape
    got = get_elements_by_class("a OR x", HTML)
    assert list(got.values()) == [
        '<body class="a b">',
        '<img class="x y">',
        '<div class="a x">',
        '<a class="a" title="Mari Kemari">',
    ]
    got_and = get_elements_by_class("a AND x", HTML)
    assert list(got_and.values()) == ['<div class="a x">']


def test_by_attribute_presence():
    got = get_elements_by_attribute("title", HTML)
    assert list(got.values()) == ['<a class="a" title="Mari Kemari">']
    assert get_elements_by_attribute("TITLE", HTML) == got
    # R-quirk 11: a textual whitespace + name scan of the start tag, as
    # find('[attr]') does -- a name inside a value, or a name prefix, hits
    html = '<div data-x="a title">x</div>'
    assert get_elements_by_attribute("title", html) == {0: '<div data-x="a title">'}
    html = '<div title="x">x</div>'
    assert get_elements_by_attribute("tit", html) == {0: '<div title="x">'}


def test_by_attributes_dsl_docblock():
    got = get_elements_by_attributes("title equals 'Mari Kemari'", HTML)
    assert len(got) == 1
    got = get_elements_by_attributes("id = 'form' OR method = GET", HTML)
    assert list(got.values()) == ['<p id="form" method="GET">']
    got = get_elements_by_attributes(
        "data-length > 500 AND data-length < 2000", HTML
    )
    assert list(got.values()) == ['<a class="b" data-length="700">']
    assert get_elements_by_attributes("", HTML) == {}
    assert get_elements_by_attributes("justaname", HTML) == {}