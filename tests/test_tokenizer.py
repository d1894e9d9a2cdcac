"""Tokenizer + extractAttributes goldens.

extractAttributes pathological example transcribed verbatim from
/root/reference/src/ParseHTML.php:1285-1314."""

import numpy as np

from parse_html_spark.tokenizer import DocIndex, parse_attrs, trim_html

EXTREME_TAG_ATTRS = (
    "\"mengapa\" tempe  'agama'=\"\" id=\"roji\" 965=\"cintakita\"\n"
    "   duhai= class=\"anto\" dengan cinta=\"kita\" cinta=\"bisa gila\" yoyo=ok"
)


def test_extract_attributes_extreme_docblock():
    assert parse_attrs(EXTREME_TAG_ATTRS) == {
        '"mengapa"': None,
        "tempe": None,
        "'agama'": "",
        "id": "roji",
        "965": "cintakita",
        "duhai": 'class="anto"',
        "dengan": None,
        "cinta": "kita",
        "yoyo": "ok",
    }


def test_extract_attributes_extreme_validated():
    assert parse_attrs(EXTREME_TAG_ATTRS, validate=True) == {
        "tempe": None,
        "id": "roji",
        "965": "cintakita",
        "duhai": 'class="anto"',
        "dengan": None,
        "cinta": "kita",
        "yoyo": "ok",
    }


def test_attr_basics():
    assert parse_attrs(' title="mytitle" href="link"') == {
        "title": "mytitle",
        "href": "link",
    }
    assert parse_attrs(" NAME=UPPER other='x'") == {
        "name": "UPPER",
        "other": "x",
    }
    # trailing bare attribute without a following space is dropped
    assert parse_attrs(" a=1 disabled") == {"a": "1"}
    assert parse_attrs(" disabled a=12") == {"disabled": None, "a": "12"}
    # a SINGLE-char unquoted value at the very end is dropped: the char is
    # consumed by the check_quote state and build_value never registers
    # (faithful to the reference state machine [:1354-1383])
    assert parse_attrs(" disabled a=1") == {"disabled": None}
    # first duplicate wins
    assert parse_attrs(' k="1" k="2"') == {"k": "1"}
    # unterminated quote at end drops the pair
    assert parse_attrs(' a="x') == {}


def test_node_tree():
    html = '<div id="a"><p>one</p><p>two <b>bold</b></p></div>'
    d = DocIndex(html)
    assert d.tag == ["div", "p", "p", "b"]
    assert d.parent_l == [-1, 0, 0, 2]
    assert d.outer(1) == "<p>one</p>"
    assert d.contents(2) == "two <b>bold</b>"
    assert d.text_between(d.cstart_l[2], d.cend_l[2]) == "two bold"
    assert d.text_between(d.cstart_l[0], d.cend_l[0]) == "onetwo bold"


def test_void_and_unclosed():
    html = "<div><img src='x'><br>text<span>open</div>"
    d = DocIndex(html)
    tags = d.tag
    assert tags == ["div", "img", "br", "span"]
    img = tags.index("img")
    assert d.is_bare(img)
    span = tags.index("span")
    # unclosed non-void element stays a bare start tag: empty contents
    assert d.is_bare(span)
    assert d.text_between(d.cstart_l[span], d.cend_l[span]) == ""
    assert d.outer(span) == "<span>"


def test_comments_and_stray_lt():
    html = "<div>a <!-- note --> b <3 c</div>"
    d = DocIndex(html)
    # comment is markup (strip_tags drops it); '<3' is literal text
    assert d.text_between(d.cstart_l[0], d.cend_l[0]) == "a  b <3 c"


def test_orphan_close_tag_excluded_from_text():
    html = "<div>a </b> c</div>"
    d = DocIndex(html)
    assert d.tag == ["div"]
    assert d.text_between(d.cstart_l[0], d.cend_l[0]) == "a  c"


def test_nested_same_tag():
    html = "<div>A<div>B</div>C</div>"
    d = DocIndex(html)
    assert d.outer(0) == html
    assert d.outer(1) == "<div>B</div>"
    assert d.text_between(d.cstart_l[0], d.cend_l[0]) == "ABC"


def test_first_gt_terminates_start_tag():
    # no quote awareness: start tag ends at the FIRST '>' (reference strpos)
    html = '<a title="x>y">t</a>'
    d = DocIndex(html)
    assert d.starttag(0) == '<a title="x>'
    # the quote is left unterminated by the cut, so the pair is dropped --
    # identical to reference extractAttributes on the same cut start tag
    assert d.attrs(0) == {}


def test_text_regions_roundtrip():
    html = "pre <b>x</b> mid <i>y</i> post"
    d = DocIndex(html)
    assert d.text_between(0, len(html)) == "pre x mid y post"


def test_trim_html():
    assert trim_html("a  b\n\tc") == "a b c"
    assert trim_html("   ") == ""
    assert trim_html("") == ""
    assert trim_html(" a ") == " a "  # single spaces survive
    assert trim_html("\n") == ""


def test_depth():
    d = DocIndex("<a><b><c></c></b></a>")
    assert d.depth_l == [0, 1, 2]


def test_junk_close_tag_does_not_close():
    """Quirk 13 pin (SURVEY 2.11): constructElement searches the literal
    '</div>' with stripos (ParseHTML.php:1571-1580), so a closer with
    trailing junk closes nothing -- the element stays a bare start tag --
    but strip_tags still removes the junk closer from text."""
    d = DocIndex("<div>a</div >b")
    assert d.n == 1
    assert d.contents(0) == ""  # bare start tag: empty contents
    assert d.is_bare(0)
    assert d.text_between(0, len(d.html)) == "ab"  # junk closer is markup

    d2 = DocIndex("<div>a</div x>b</div>c")
    # the LATER exact closer closes; contents span the junk closer
    assert d2.n == 1
    assert d2.contents(0) == "a</div x>b"
    assert d2.text_between(0, len(d2.html)) == "abc"

    d3 = DocIndex("<div>a</DIV>b")  # stripos: case-insensitive close
    assert d3.contents(0) == "a"
