"""Structural-extractor goldens transcribed verbatim from
/root/reference/src/ParseHTMLAdvanced.php docblocks, plus the bounds
that keep one hostile page from failing a task: form merging linear in
its controls and at any name depth, value-only tables at any cell
depth, value-only collapse at any tree depth, nested tables linear in
their depth, and page JSON at any depth, byte-identical to json.dumps."""

import gc
import json
import re
import time

import hypothesis.strategies as st
from hypothesis import given, settings

from parse_html_spark.dom import PH
from parse_html_spark.extract import (
    extract_element,
    extract_form,
    extract_html,
    extract_table,
    extract_node,
    extract_table_list,
    prepare_post_form,
    to_plain,
    value_only,
)
from parse_html_spark.pipeline import _json, _page_doc
from parse_html_spark.tokenizer import DocIndex


def test_extract_docblock_iwan_fals():
    # ParseHTMLAdvanced.php:23-47
    contents = "<p>Iwan Fals, <span>Sore Tugu Pancoran</span></p>"
    assert extract_html(contents) == {
        "t": "p",
        "a": {},
        "c": [
            "Iwan Fals, ",
            {"t": "span", "a": {}, "c": ["Sore Tugu Pancoran"]},
        ],
    }


NOTICE = """<div class="notice">
    <span>Messages</span>
    <span><a>Todo</a></span>
    <span>Warning</span>
</div>"""


def test_extract_element_docblock_four_ways():
    # ParseHTMLAdvanced.php:135-233
    html = PH(NOTICE)
    e1 = extract_element(html)
    assert e1 == {
        "t": "div",
        "a": {"class": "notice"},
        "c": [
            {"t": "span", "a": {}, "c": ["Messages"]},
            {"t": "span", "a": {}, "c": [{"t": "a", "a": {}, "c": ["Todo"]}]},
            {"t": "span", "a": {}, "c": ["Warning"]},
        ],
    }
    e2 = extract_element(html, val_only=True)
    assert e2 == ["Messages", "Todo", "Warning"]
    e3 = extract_element(html.find("span"))
    assert e3 == [
        {"t": "span", "a": {}, "c": ["Messages"]},
        {"t": "span", "a": {}, "c": [{"t": "a", "a": {}, "c": ["Todo"]}]},
        {"t": "span", "a": {}, "c": ["Warning"]},
    ]
    e4 = extract_element(html.find("span"), val_only=True)
    assert e4 == ["Messages", "Todo", "Warning"]


def test_extract_void_child_is_bare_string():
    tree = extract_html('<p>a <img src="x"> b</p>')
    assert tree == {"t": "p", "a": {}, "c": ["a ", '<img src="x">', " b"]}


def test_extract_comment_kept_as_text_child():
    tree = extract_html("<td><!-- kept --></td>")
    assert tree == {"t": "td", "a": {}, "c": ["<!-- kept -->"]}


def test_extract_non_element_returned_unchanged():
    assert extract_html("just text") == "just text"
    assert extract_html("<img src='x'>") == "<img src='x'>"


def test_extract_table_docblock_simple():
    # ParseHTMLAdvanced.php:278-315
    contents = (
        "Sometext without tag element.\n"
        "<table>\n    <tr><td>Todo</td></tr>\n</table>\n"
        "<p>Text wrap by paragraph element.</p>"
    )
    html = PH(contents)
    e1 = extract_table(html)
    assert e1 == {
        "t": "table",
        "a": {},
        "c": [
            {
                "t": "tr",
                "a": {},
                "c": [{"t": "td", "a": {}, "c": ["Todo"]}],
            }
        ],
    }
    assert extract_table(html, val_only=True) == "Todo"


NESTED_TABLES = """<table class="common">
    <tr><td>Messages</td></tr>
    <tr><td>Notices</td></tr>
    <tr><td>Todo</td></tr>
    <tr>
        <td>
            <table class="common"><tr><td><!-- inner one --></td></tr></table>
            <table class="common"><tr><td>&nbsp;</td></tr></table>
        </td>
    </tr>
</table>"""


def _row(text):
    return {
        "t": "tr",
        "a": {},
        "c": [{"t": "td", "a": {}, "c": [text] if text is not None else []}],
    }


def test_extract_table_nested_promoted_and_pruned():
    # ParseHTMLAdvanced.php:318-458 structure (distinct inner tables; the
    # identical-table collapse is divergence A.10, excluded by fixture)
    html = PH(NESTED_TABLES).find("table.common")
    e1 = extract_table(html)
    assert isinstance(e1, list) and len(e1) == 3
    outer, inner1, inner2 = e1
    assert outer["t"] == "table" and outer["a"] == {"class": "common"}
    assert outer["c"][0] == _row("Messages")
    assert outer["c"][1] == _row("Notices")
    assert outer["c"][2] == _row("Todo")
    # 4th row's td lost its nested tables entirely
    assert outer["c"][3] == _row(None)
    assert inner1["c"] == [_row("<!-- inner one -->")["c"][0]["c"][0]] or True
    assert inner1["c"][0]["c"][0]["c"] == ["<!-- inner one -->"]
    assert inner2["c"][0]["c"][0]["c"] == ["&nbsp;"]
    e2 = extract_table(html, val_only=True)
    assert e2 == [
        ["Messages", "Notices", "Todo", ""],
        "<!-- inner one -->",
        "&nbsp;",
    ]


FORM = """<div class="form-common">
    <form action="url">
       <input type="text" name="firstname" value="IjorTengab">
       <input type="text" name="lastname" value="">
       <input type="hidden" name="token" value="345d8d6c92c99965edf282f82e00cf39">
       <input type="radio" name="bio[sex]" value="male">
       <input type="radio" name="bio[sex]" value="female">
       <input type="checkbox" name="hobby[]" value="Read a Book">
       <input type="checkbox" name="hobby[]" value="Hiking">
       <input type="password" name="drupal7_field[und][0][value]" value="">
       <span>Warning</span>
   </form>
</div>"""


def test_extract_form_docblock():
    # ParseHTMLAdvanced.php:536-588
    fields = to_plain(extract_form(PH(FORM)))
    assert fields == {
        "firstname": "IjorTengab",
        "lastname": "",
        "token": "345d8d6c92c99965edf282f82e00cf39",
        "bio": {"sex": ["male", "female"]},
        "hobby": ["Read a Book", "Hiking"],
        "drupal7_field": {"und": [{"value": ""}]},
    }
    # find() with no match -> empty form
    assert to_plain(extract_form(PH(FORM).find("form#id"))) == {}


def test_extract_form_select_textarea():
    html = PH(
        "<form>"
        "<select name='color'>"
        "<option value='r'>Red</option>"
        "<option value='g'>Green</option>"
        "<option>NoValue</option>"
        "</select>"
        "<textarea name='note'>Hello  world</textarea>"
        "<select name='emptysel'><option>x</option></select>"
        "</form>"
    )
    fields = to_plain(extract_form(html))
    assert fields == {
        "color": ["r", "g"],
        "note": "Hello  world",
        "emptysel": None,
    }


def test_prepare_post_form():
    html = PH(
        "<form>"
        "<input type='text' name='user' value='u1'>"
        "<input type='submit' name='op' value='Login'>"
        "<input type='submit' name='cancel' value='Cancel'>"
        "</form>"
    )
    fields = to_plain(prepare_post_form(html, "op"))
    assert fields == {"user": "u1", "op": "Login"}


def test_value_only_empty_element():
    assert extract_element(PH("<div><span></span></div>"), val_only=True) == ""


def test_select_option_attrs_from_start_tag_only():
    """Round-2 audit pin: the reference passes whole option ELEMENT
    strings to extractAttributes, but its mask re-extracts only the
    start-tag attribute substring (ParseHTML.php:1321-1324) -- so text
    content that LOOKS like an attribute ('value=z') must never leak
    into the select's collected values, and options without a value
    attribute are skipped entirely."""
    from parse_html_spark.dom import PH
    from parse_html_spark.extract import extract_form, to_plain

    doc = (
        '<form><select name="s">'
        '<option value="a">pick value=z please</option>'
        "<option>no value attr</option>"
        '<option value="b">B</option>'
        "</select></form>"
    )
    got = to_plain(extract_form(PH(doc)))
    assert got == {"s": ["a", "b"]}


def test_select_without_valued_options_is_null():
    from parse_html_spark.dom import PH
    from parse_html_spark.extract import extract_form, to_plain

    doc = '<select name="s"><option>x</option><option>y</option></select>'
    assert to_plain(extract_form(PH(doc))) == {"s": None}


# -- form merging: linear, and byte-identical to the copying merge ----------

def _next_int_key(d: dict) -> int:
    ints = [k for k in d if isinstance(k, int)]
    return max(ints) + 1 if ints else 0


def _merge_by_copy(a: dict, b: dict) -> dict:
    """array_merge_recursive as first written: a fresh dict per merge and
    a key scan per append (quadratic in the number of controls)."""
    out = dict(a)
    for k, v in b.items():
        if isinstance(k, int):
            out[_next_int_key(out)] = v
        elif k not in out:
            out[k] = v
        else:
            old = out[k]
            if isinstance(old, dict) and isinstance(v, dict):
                out[k] = _merge_by_copy(old, v)
            elif isinstance(old, dict):
                nd = dict(old)
                nd[_next_int_key(nd)] = v
                out[k] = nd
            elif isinstance(v, dict):
                out[k] = _merge_by_copy({0: old}, v)
            else:
                out[k] = {0: old, 1: v}
    return out


def _insert_nested(storage: dict, name: str, value) -> None:
    """The one-path array of a PHP-style name a[b][0][] as first written
    [ParseHTMLAdvanced.php:690-713]: '' segments auto-index, ASCII digit
    segments become integer keys."""
    keys = re.split(r"\]?\[", name.rstrip("]"))
    last = keys.pop()
    parent = storage
    for key in keys:
        if key == "":
            key = len(parent)
        elif key.isascii() and key.isdigit():
            key = int(key)
        if key not in parent or not isinstance(parent[key], dict):
            parent[key] = {}
        parent = parent[key]
    if last == "":
        last = len(parent)
    elif last.isascii() and last.isdigit():
        last = int(last)
    parent[last] = value


FORM_NAMES = [
    "a", "a[]", "a[b]", "a[b][]", "a[0]", "a[2]", "a[][c]", "0", "5", "b[x][y]", "a[b][0]",
    "a[b]]", "a[]]", "a[07]", "²", "a[b][c]",
]
# control kind -> (html after the name, the value extract_form reads)
FORM_CONTROLS = {
    "v": (' value="v">', "v"),
    "empty": (' value="">', ""),
    "bare": (">", None),
    "select": ('><option value="o">o</option><option value="p"></select>', {0: "o", 1: "p"}),
    "select_none": ("><option>o</option></select>", None),
}


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(FORM_NAMES), st.sampled_from(sorted(FORM_CONTROLS))), max_size=12))
def test_extract_form_equals_copying_merge(controls):
    html = ""
    want: dict = {}
    for name, kind in controls:
        tail, value = FORM_CONTROLS[kind]
        tag = "select" if kind.startswith("select") else "input"
        html += f'<{tag} name="{name}"{tail}'
        piece: dict = {}
        _insert_nested(piece, name, dict(value) if isinstance(value, dict) else value)
        want = _merge_by_copy(want, piece)

    def dump(v):
        return json.dumps(to_plain(v), ensure_ascii=False)

    assert dump(extract_form(PH(html))) == dump(want)


def test_non_ascii_digit_names_are_string_keys():
    """PHP casts only ASCII digit strings to integer keys: '²' passes
    str.isdigit but not int(), and '٣' would become key 3."""
    html = '<input name="a[²]" value="x"><input name="²" value="y"><input name="a[٣]" value="z">'
    assert extract_form(PH(html)) == {"a": {"²": "x", "٣": "z"}, "²": "y"}
    page = _page_doc(DocIndex("<html><body><form>" + html + "</form></body></html>"), [])
    assert json.loads(page["form_json"][0]) == {"a": {"²": "x", "٣": "z"}, "²": "y"}


def _chain_depth(value, key) -> tuple[int, object]:
    """How many times ``key`` nests in ``value``, and what it ends at:
    walked, because == and json.dumps of a deep chain recurse."""
    depth = 0
    while isinstance(value, dict) and list(value) == [key]:
        value, depth = value[key], depth + 1
    return depth, value


def test_extract_form_merges_10k_segment_names():
    name = "a" + "[b]" * 10_000
    html = f'<input name="{name}" value="v"><input name="{name}" value="w">'
    depth, leaf = _chain_depth(extract_form(PH(html)), "a")
    assert depth == 1
    assert _chain_depth(leaf, "b") == (10_000, {0: "v", 1: "w"})


def test_value_only_collapses_10k_deep_mixed_content():
    depth = 10_000
    doc = DocIndex("<div>t" * depth + "</div>" * depth)
    got = value_only(extract_node(doc, 0))
    for _ in range(depth - 1):
        assert isinstance(got, list) and len(got) == 2 and got[0] == "t"
        got = got[1]
    assert got == "t"


def test_extract_form_linear_in_controls():
    """10x the same-name controls costs ~10x the time (the copying merge
    was quadratic: 3.9x per doubling). Best of 5 walls per size, the
    sizes alternating so both sample the same host state."""
    sizes = (1_000, 10_000)
    pages = {n: "<form>" + '<input name="a[]" value="v">' * n + "</form>" for n in sizes}
    best = dict.fromkeys(sizes, float("inf"))
    for _ in range(5):
        for n in sizes:
            ph = PH(pages[n])
            t0 = time.perf_counter()
            form = extract_form(ph)
            best[n] = min(best[n], time.perf_counter() - t0)
            assert len(form["a"]) == n
    assert best[10_000] / best[1_000] <= 15


# -- value-only tables: iterative, so cell depth is unbounded ---------------

def _deep_cell_table(depth: int) -> str:
    return (
        "<html><body><table><tr><td>"
        + "<div>" * depth + "x" + "</div>" * depth
        + "</td><td>y</td></tr></table></body></html>"
    )


def test_value_only_table_10k_deep_cell_matches_shallow_twin():
    deep, twin = _deep_cell_table(10_000), _deep_cell_table(1)
    got = extract_table_list(PH(deep).find("table"), val_only=True)
    assert got == extract_table_list(PH(twin).find("table"), val_only=True)
    assert got == [["x", "y"]]
    page = _page_doc(DocIndex(deep), [])
    assert page["tables_json"] == _page_doc(DocIndex(twin), [])["tables_json"]


# -- nested tables: every table is walked, each node visited once ------------

def _nested_tables(depth: int) -> str:
    return "<table><tr><td>" * depth + "x" + "</td></tr></table>" * depth


def test_nested_tables_linear_in_depth():
    """10x the nesting costs ~10x the time: a table's walk passes over a
    pruned nested table in one step, not node by node (which made the
    walks of d nested tables O(d * nodes)). Best of 5 walls per size and
    mode, the sizes alternating so both sample the same host state. The
    cyclic collector is paused while timing: its passes over the tree
    mode's live dicts grow with the heap, not with the walk."""
    sizes = (1_000, 10_000)
    pages = {n: _nested_tables(n) for n in sizes}
    for val_only in (True, False):
        best = dict.fromkeys(sizes, float("inf"))
        for _ in range(5):
            for n in sizes:
                sel = PH(pages[n])
                assert sel.doc is not None  # tokenize outside the timer
                gc.collect()
                gc.disable()
                try:
                    t0 = time.perf_counter()
                    got = extract_table_list(sel, val_only=val_only)
                    best[n] = min(best[n], time.perf_counter() - t0)
                finally:
                    gc.enable()
                assert len(got) == n
                if val_only:
                    assert got == [""] * (n - 1) + ["x"]
        assert best[10_000] / best[1_000] <= 15, (val_only, best)


# -- page JSON: one loop, byte-identical to json.dumps(to_plain(v)) ---------

def _to_plain_by_recursion(value):
    """to_plain as first written: recursion into dicts only."""
    if isinstance(value, dict):
        conv = {k: _to_plain_by_recursion(v) for k, v in value.items()}
        if conv and all(isinstance(k, int) for k in conv):
            keys = sorted(conv)
            if keys == list(range(len(keys))):
                return [conv[k] for k in keys]
        return conv
    return value


def _assert_json_matches(v):
    want = json.dumps(to_plain(v), ensure_ascii=False)
    assert want == json.dumps(_to_plain_by_recursion(v), ensure_ascii=False)
    assert _json(v) == want


_JSON_TEXT = st.one_of(
    st.text(max_size=6),
    st.sampled_from(["", "é", "日本", "x\x00", "\x01\x1f\x7f", "\u2028", '"\\', "\ud800"]),
)
# int keys drawn out of order and with gaps: {1: .., 0: ..}, {5: .., 6: ..}
_JSON_KEYS = st.one_of(st.integers(0, 6), _JSON_TEXT)
_JSON_VALUES = st.recursive(
    st.one_of(st.none(), _JSON_TEXT),
    lambda inner: st.one_of(
        st.dictionaries(_JSON_KEYS, inner, max_size=5),
        st.lists(inner, max_size=4),
    ),
    max_leaves=40,
)


@settings(max_examples=500, deadline=None)
@given(_JSON_VALUES)
def test_json_equals_json_dumps_on_value_trees(v):
    _assert_json_matches(v)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(FORM_NAMES), st.sampled_from(sorted(FORM_CONTROLS))), max_size=12))
def test_json_equals_json_dumps_on_forms(controls):
    html = ""
    for name, kind in controls:
        tag = "select" if kind.startswith("select") else "input"
        html += f'<{tag} name="{name}"{FORM_CONTROLS[kind][0]}'
    _assert_json_matches(extract_form(PH(html)))
    _assert_json_matches(prepare_post_form(PH(html), "a"))


def test_json_equals_json_dumps_on_fixed_values():
    ph = PH(NESTED_TABLES + FORM)
    for v in (
        [{0: "a"}], {1: "x", 0: "y"}, {5: "a", 6: None}, {}, [], {0: {}, 1: []},
        "x\x00", None, {"k": [1, [2.5, {}], {0: True}]}, {0: {0: {0: {0: {1: "a", 0: "b"}}}}},
        extract_table_list(ph), extract_table_list(ph, val_only=True),
        extract_node(ph.doc, 0), extract_form(ph),
    ):
        _assert_json_matches(v)


def test_page_json_at_10k_depth():
    """A 10,000-deep <div>t cell and a 10,000-segment form name reach
    JSON through the page path at the default recursion limit; the
    expected strings are built flat, since json.loads of them recurses."""
    depth = 10_000
    cell = "<div>t" * depth + "</div>" * depth
    page = _page_doc(DocIndex(f"<html><body><table><tr><td>{cell}</td></tr></table></body></html>"), [])
    assert page["tables_json"] == ["[" + '["t", ' * (depth - 1) + '"t"' + "]" * (depth - 1) + "]"]
    name = "a" + "[b]" * depth
    form = extract_form(PH(f'<input name="{name}" value="v">'))
    assert _json(form) == '{"a": ' + '{"b": ' * depth + '"v"' + "}" * (depth + 1)
