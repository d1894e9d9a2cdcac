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

import re

from .dom import PH, _starts_closed
from .matcher import _compile, _match_in_range
from .tokenizer import DocIndex, trim_html


def _keep(text: str) -> bool:
    return text != "" and text != "0"  # PHP empty() drops '' and '0'


def _walk(doc: DocIndex, root: int, prune_tag: str | None, val_only: bool):
    """The one extract() walk, iterative, so nesting depth never meets
    the recursion limit.

    Builds the {t,a,c} tree of node ``root``, or with ``val_only`` its
    extractValueOnly collapse directly: each node's children collapse as
    the walk leaves it, and no attribute is parsed. Children with tag ==
    prune_tag are removed with their gaps merged (str_replace
    semantics).

    The walk visits root's descendants in node order, which is
    pre-order, with the open nodes on a stack: a node whose parent is
    the current node is its next child; any other node ends the current
    node. Root's descendants are the contiguous ids up to
    ``subtree_end_l[root]``, so the walk needs no children index, and a
    pruned child is passed over in one jump to its own subtree end."""
    if doc.is_bare(root):
        return doc.outer(root)
    html = doc.html
    tag = doc.tag
    parent_l = doc.parent_l
    subtree_end_l = doc.subtree_end_l
    start_l, end_l = doc.start_l, doc.end_l
    cstart_l, cend_l = doc.cstart_l, doc.cend_l
    stop = subtree_end_l[root]
    # the current node, the start of its open gap and its child values;
    # the gap buffer is flushed before each descent, so it is empty
    # whenever the walk returns to a parent
    node, pos, c = root, cstart_l[root], []
    stack: list[tuple[int, int, list]] = []
    buf = ""
    j = root + 1
    while True:
        if j < stop and parent_l[j] == node:
            buf += html[pos:start_l[j]]
            pos = end_l[j]
            if prune_tag is not None and tag[j] == prune_tag:
                j = subtree_end_l[j]
                continue
            t = trim_html(buf)
            buf = ""
            if _keep(t):
                c.append(t)
            if pos == cstart_l[j]:  # bare child: its start tag
                c.append(html[start_l[j]:pos])
            else:
                stack.append((node, pos, c))
                node, pos, c = j, cstart_l[j], []
            j += 1
            continue
        # j is outside the current node: the node is complete
        t = trim_html(buf + html[pos:cend_l[node]])
        buf = ""
        if _keep(t):
            c.append(t)
        if val_only:
            value = _collapse(c)
        else:
            value = {"t": tag[node], "a": dict(doc.attrs(node)), "c": c}
        if not stack:
            return value
        node, pos, c = stack.pop()
        c.append(value)


def extract_node(doc: DocIndex, i: int, prune_tag: str | None = None):
    """{t,a,c} tree of node i; children with tag == prune_tag are removed
    with their gaps merged (str_replace semantics)."""
    return _walk(doc, i, prune_tag, False)


def extract_html(html: str):
    """Reference static extract($element) on a raw string: the string must
    start with a start tag and have a matching end tag, else it is
    returned unchanged [:52-56]."""
    doc = DocIndex(html)
    return extract_node(doc, 0) if _starts_closed(doc) else html


def _collapse(c: list):
    """extractValueOnly's one rule for a node's collapsed children: none
    -> '', one -> that child, more -> the list [:664-684]."""
    if not c:
        return ""
    return c[0] if len(c) == 1 else c


def value_only(tree) -> object:
    """extractValueOnly collapse of an extract() tree [:109-120,
    :664-684], by an explicit stack of (children left, collapsed
    children), so depth never meets the recursion limit."""
    if isinstance(tree, str):
        return tree
    stack = [(iter(tree["c"]), [])]
    while True:
        kids, c = stack[-1]
        for ch in kids:
            if isinstance(ch, str):
                c.append(ch)
            else:
                stack.append((iter(ch["c"]), []))
                break
        else:
            stack.pop()
            value = _collapse(c)
            if not stack:
                return value
            stack[-1][1].append(value)


def _selection_elements(sel: PH) -> list[tuple[DocIndex, int | None]]:
    """Elements of a selection as (doc, node) pairs; node None = raw."""
    doc = sel.doc
    if doc is None:
        return []
    if sel._nodes is None:
        return [(doc, None)]
    return [(doc, n) for n in sel.nodes]


def _extract_one(doc: DocIndex, node: int | None, val_only: bool):
    if node is None:
        if not _starts_closed(doc):
            return doc.html
        node = 0
    return _walk(doc, node, None, val_only)


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
    return [_walk(sel.doc, t, "table", val_only) for t in tables]


# -- forms ---------------------------------------------------------------

_NAME_SPLIT = re.compile(r"\]?\[")


def _name_key(k: str):
    """A bracket segment as a key: '' auto-indexes as 0 [:699-701] and an
    ASCII digit string is cast like a PHP numeric string; any other
    segment ('²', '٣') stays a string key."""
    if k == "":
        return 0
    return int(k) if k.isascii() and k.isdigit() else k


def _merge_control(storage: dict, name: str, value, next_keys: dict) -> None:
    """array_merge_recursive(storage, the one-path array that the PHP-style
    name a[b][0][] makes of value) [:690-713], written in place by one
    walk down storage along the name's keys. An integer key appends the
    rest of the path; a new string key takes it as one fresh chain, its
    keys as written; an existing string key is descended into, a scalar
    there becoming {0: scalar} first. At the last key a scalar pairs or
    appends, and a select's option dict appends each of its values.
    ``next_keys`` is private to one extract_form call (see _append):
    merging n controls is linear, not quadratic."""
    keys = [_name_key(k) for k in _NAME_SPLIT.split(name.rstrip("]"))]
    d = storage
    for i, k in enumerate(keys):
        if isinstance(k, int) or k not in d:
            rest = value
            for r in reversed(keys[i + 1:]):
                rest = {r: rest}
            if isinstance(k, int):
                _append(d, rest, next_keys)
            else:
                d[k] = rest
            return
        old = d[k]
        if not isinstance(old, dict):
            old = d[k] = {0: old}
        d = old
    for v in value.values() if isinstance(value, dict) else (value,):
        _append(d, v, next_keys)


def _append(d: dict, v, next_keys: dict) -> None:
    """d[] = v: the key after the largest integer key, else 0, in O(1)
    after one scan of d. ``next_keys`` maps id(d) -> (d, next key); it
    holds d itself, so no id is reused while the map lives, and once d
    is in it only _append gives d an integer key, so the count stays
    true."""
    entry = next_keys.get(id(d))
    if entry is None:
        k = max((j for j in d if isinstance(j, int)), default=-1) + 1
    else:
        k = entry[1]
    d[k] = v
    next_keys[id(d)] = (d, k + 1)


def to_plain(value):
    """Canonicalize PHP-ish arrays: dicts whose keys are 0..n-1 ints
    become Python lists (for JSON golden comparison); a list is kept as
    it is, never descended into. An explicit stack of (items left,
    converted dict, key in the parent), so depth never meets the
    recursion limit."""
    if not isinstance(value, dict):
        return value
    stack = [(iter(value.items()), {}, None)]
    while True:
        items, conv, key = stack[-1]
        for k, v in items:
            if isinstance(v, dict):
                stack.append((iter(v.items()), {}, k))
                break
            conv[k] = v
        else:
            stack.pop()
            if conv and all(isinstance(k, int) for k in conv):
                keys = sorted(conv)
                if keys == list(range(len(keys))):
                    conv = [conv[k] for k in keys]
            if not stack:
                return conv
            stack[-1][1][key] = conv


FORM_SELECTOR = "input, textarea, select, button"


def extract_form(sel: PH, selector: str | None = None) -> dict:
    """extractForm [:592-642]: name -> value map with nested-name
    expansion and radio merging. Returns a PHP-ish dict (use to_plain)."""
    if selector is None:
        selector = FORM_SELECTOR
    controls = sel.find(selector)
    doc = controls.doc
    storage: dict = {}
    next_keys: dict[int, tuple[dict, int]] = {}
    for n in controls.nodes:  # already in position order (ksort pin)
        attrs = doc.attrs(n)
        name = attrs.get("name")
        if name is None:
            continue
        tag = doc.tag[n]
        if tag == "select":
            options = map(doc.attrs, _match_in_range(
                doc, _compile("option", ()), doc.start_l[n], doc.end_l[n]
            ))
            values = [o["value"] for o in options if "value" in o]
            value: object = dict(enumerate(values)) if values else None
        elif tag == "textarea":
            value = doc.contents(n)
        else:
            value = attrs.get("value")
        _merge_control(storage, name, value, next_keys)
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
