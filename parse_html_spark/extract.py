"""Structural extractors: extract / extractValueOnly / extractElement /
extractTable / extractForm / preparePostForm.

Re-expresses /root/reference/src/ParseHTMLAdvanced.php over the node
index. Pinned semantics:

- extract() returns the recursive {t, a, c} tree; text children are
  trimHtml'd raw gaps between child elements, so comments, doctype and
  orphan end tags surface verbatim as text [ParseHTMLAdvanced.php:49-107];
  a gap that trims to '' or '0' is dropped (PHP empty()) [:85, :104]
- a void/unclosed child appears as its bare start-tag STRING (the
  reference recurses into extract() whose parseElement fails and returns
  the element unchanged [:53-56])
- extractValueOnly collapses single-child chains; an element with no
  children becomes '' [:664-684]
- extractTable promotes nested tables to top-level entries and prunes
  them from their parents; we prune by node span instead of str_replace,
  avoiding the identical-table collapse bug (divergence A.10) [:462-515]
- extractForm: named controls in position order; select -> list of option
  'value' attrs (bare value counts, no valued options -> None), textarea
  -> raw contents, else value attr; PHP-style nested names a[b][] expand
  to nested maps; same-name controls merge like array_merge_recursive
  [:592-642, :686-713]
- preparePostForm drops every [type=submit] field except the trigger via
  the diff-assoc rule (string-compare; two containers compare equal, as
  PHP casts both to 'Array') [:654-662]
"""

from __future__ import annotations

from .dom import PH
from .matcher import _compile, _match_in_range
from .tokenizer import DocIndex, trim_html


def _keep(text: str) -> bool:
    return text != "" and text != "0"  # PHP empty() drops '' and '0'


def extract_node(doc: DocIndex, i: int, prune_tag: str | None = None):
    """{t,a,c} tree of node i; children with tag == prune_tag are removed
    with their gaps merged (str_replace semantics)."""
    if doc.is_bare(i):
        return doc.outer(i)
    html = doc.html
    buf = ""
    c: list = []
    # list twins, not numpy element access: scalar indexing on the lazy
    # arrays boxes per access and forces the conversion (round-8 pass)
    pos = doc.cstart_l[i]
    for ch in doc.children_of(i):
        buf += html[pos:doc.start_l[ch]]
        if prune_tag is not None and doc.tag[ch] == prune_tag:
            pos = doc.end_l[ch]
            continue
        t = trim_html(buf)
        buf = ""
        if _keep(t):
            c.append(t)
        c.append(extract_node(doc, ch, prune_tag))
        pos = doc.end_l[ch]
    buf += html[pos:doc.cend_l[i]]
    t = trim_html(buf)
    if _keep(t):
        c.append(t)
    return {"t": doc.tag[i], "a": dict(doc.attrs(i)), "c": c}


def extract_html(html: str):
    """Reference static extract($element) on a raw string: the string must
    start with a start tag and have a matching end tag, else it is
    returned unchanged [:52-56]."""
    doc = DocIndex(html)
    if doc.n and doc.start_l[0] == 0 and not doc.is_bare(0):
        return extract_node(doc, 0)
    return html


def value_only(tree) -> object:
    """extractValueOnly collapse [:109-120, :664-684]."""
    storage: list = []
    _value_only(tree, storage)
    return storage[0] if storage else None


def _value_only(node, storage: list) -> None:
    if isinstance(node, str):
        storage.append(node)
        return
    children = node["c"]
    if not children:
        storage.append("")
        return
    if len(children) == 1:
        _value_only(children[0], storage)
        return
    sub: list = []
    for ch in children:
        _value_only(ch, sub)
    storage.append(sub)


def _selection_elements(sel: PH) -> list[tuple[DocIndex, int | None]]:
    """Elements of a selection as (doc, node) pairs; node None = raw."""
    doc = sel.doc
    if doc is None:
        return []
    if sel._nodes is None:
        return [(doc, None)]
    return [(doc, n) for n in sel.nodes]


def _extract_one(doc: DocIndex, node: int | None, val_only: bool):
    tree = extract_html(doc.html) if node is None else extract_node(doc, node)
    return value_only(tree) if val_only else tree


def extract_element(sel: PH, val_only: bool = False):
    """extractElement: one tree per element; single result unwrapped
    [:235-253]."""
    storage = [
        _extract_one(doc, node, val_only)
        for doc, node in _selection_elements(sel)
    ]
    if len(storage) == 1:
        return storage[0]
    return storage


def extract_table(sel: PH, val_only: bool = False):
    """extractTable: all tables (self-or-descendant, nested promoted to
    top level), nested-table content pruned from parents [:462-515].
    Single table unwrapped, none -> []."""
    storage = extract_table_list(sel, val_only)
    if len(storage) == 1:
        return storage[0]
    return storage


def extract_table_list(sel: PH, val_only: bool = False) -> list:
    """extract_table without the single-result unwrap (pipeline use)."""
    table = _compile("table", ())
    tables: dict[int, None] = {}  # ordered set: nested tables come once
    for d, node in _selection_elements(sel):
        if node is None:
            lo, hi = 0, len(d.html)
        else:
            lo, hi = d.start_l[node], d.end_l[node]
        tables.update(dict.fromkeys(_match_in_range(d, table, lo, hi)))
    trees = [extract_node(sel.doc, t, prune_tag="table") for t in tables]
    return [value_only(t) for t in trees] if val_only else trees


# -- forms ---------------------------------------------------------------

def _next_int_key(d: dict) -> int:
    ints = [k for k in d if isinstance(k, int)]
    return max(ints) + 1 if ints else 0


def insert_nested(storage: dict, name: str, value) -> None:
    """PHP-style nested names: a[b][0][], '' segments auto-index
    [:690-713] (Drupal drupal_parse_info_format derivation)."""
    import re as _re

    keys = _re.split(r"\]?\[", name.rstrip("]"))
    last = keys.pop()
    parent = storage
    for key in keys:
        if key == "":
            key = len(parent)  # PHP count($parent) auto-index [:699-701]
        elif key.isdigit():
            key = int(key)  # PHP numeric-string key cast
        if key not in parent or not isinstance(parent[key], dict):
            parent[key] = {}
        parent = parent[key]
    if last == "":
        last = len(parent)
    elif last.isdigit():
        last = int(last)
    parent[last] = value


def merge_recursive(a: dict, b: dict) -> dict:
    """PHP array_merge_recursive: string keys recurse / scalars pair up
    into lists; integer keys append with renumbering."""
    out = dict(a)
    for k, v in b.items():
        if isinstance(k, int):
            out[_next_int_key(out)] = v
        elif k not in out:
            out[k] = v
        else:
            old = out[k]
            if isinstance(old, dict) and isinstance(v, dict):
                out[k] = merge_recursive(old, v)
            elif isinstance(old, dict):
                nd = dict(old)
                nd[_next_int_key(nd)] = v
                out[k] = nd
            elif isinstance(v, dict):
                out[k] = merge_recursive({0: old}, v)
            else:
                out[k] = {0: old, 1: v}
    return out


def to_plain(value):
    """Canonicalize PHP-ish arrays: dicts whose keys are 0..n-1 ints
    become Python lists (for JSON golden comparison)."""
    if isinstance(value, dict):
        conv = {k: to_plain(v) for k, v in value.items()}
        if conv and all(isinstance(k, int) for k in conv):
            keys = sorted(conv)
            if keys == list(range(len(keys))):
                return [conv[k] for k in keys]
        return conv
    return value


FORM_SELECTOR = "input, textarea, select, button"


def extract_form(sel: PH, selector: str | None = None) -> dict:
    """extractForm [:592-642]: name -> value map with nested-name
    expansion and radio merging. Returns a PHP-ish dict (use to_plain)."""
    if selector is None:
        selector = FORM_SELECTOR
    controls = sel.find(selector)
    doc = controls.doc
    storage: dict = {}
    if doc is None:
        return storage
    for n in controls.nodes:  # already in position order (ksort pin)
        attrs = doc.attrs(n)
        if "name" not in attrs or attrs["name"] is None:
            continue
        name = attrs["name"]
        tag = doc.tag[n]
        if tag == "select":
            options = map(doc.attrs, _match_in_range(
                doc, _compile("option", ()), doc.start_l[n], doc.end_l[n]
            ))
            values = [o["value"] for o in options if "value" in o]
            value: object = (
                {i: v for i, v in enumerate(values)} if values else None
            )
        elif tag == "textarea":
            value = doc.contents(n)
        else:
            value = attrs.get("value")
        piece: dict = {}
        insert_nested(piece, name, value)
        storage = merge_recursive(storage, piece)
    return storage


def _php_str(v) -> str:
    if isinstance(v, (dict, list)):
        return "Array"
    if v is None:
        return ""
    return str(v)


def prepare_post_form(sel: PH, trigger: str) -> dict:
    """preparePostForm [:654-662]: drop all [type=submit] fields except
    the trigger (diff-assoc on PHP string casts)."""
    fields = extract_form(sel)
    submit = extract_form(sel, "[type=submit]")
    submit.pop(trigger, None)
    return {
        k: v
        for k, v in fields.items()
        if not (k in submit and _php_str(v) == _php_str(submit[k]))
    }
