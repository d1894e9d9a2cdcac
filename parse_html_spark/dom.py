"""Per-document jQuery-style API mirroring the reference's ParseHTML class.

This is the single-document engine that the Spark layer vectorizes over
Arrow batches (one DocIndex per document inside mapInArrow). It exists so
the reference's chainable API surface -- find / children / eq / html /
text / attr (/root/reference/src/ParseHTML.php:192-352) -- is available
verbatim, and so tests can pin semantics without Spark.

A selection is (DocIndex, list of node ids); ``nodes=None`` means the
fresh whole-document object (scope 'raw' [:136-149]); ``nodes=[]`` is the
chainable empty object [:199-201].
"""

from __future__ import annotations

from functools import lru_cache

from .matcher import (
    _class_scan,
    _compile,
    _compiled,
    _conditions_scan,
    _id_scan,
    _match_in_range,
    _presence_scan,
    eval_chain,
    find_nodes,
)
from .selector import compile_selector
from .tokenizer import DocIndex, parse_attrs


@lru_cache(maxsize=512)
def _cached_plan(selector: str, ref_compat: bool):
    """Per-process selector-plan memo: a mapInArrow stage re-runs the
    same handful of selectors for every document, and compiling was a
    measured per-doc cost (round-8 profiling: 3 compiles/doc in the
    extract_page job, ~25 us each). Plans are read-only in the matcher
    (no consumer mutates Compound/Atom), so sharing is safe; bounded so
    adversarial dynamic selectors cannot grow worker memory."""
    return compile_selector(selector, ref_compat=ref_compat)


def _starts_closed(d: DocIndex) -> bool:
    """The raw starts with a start tag that has a matching end tag: the
    reference's extract($element) condition [ParseHTMLAdvanced.php:52-56],
    and what makes a fresh object's getElements() its outermost element."""
    return bool(d.n) and d.start_l[0] == 0 and not d.is_bare(0)


class PH:
    """jQuery-style selection over one HTML document."""

    def __init__(
        self,
        html=None,
        doc: DocIndex | None = None,
        nodes=None,
        ref_compat: bool = False,
    ):
        self._html = html
        self._doc = doc if doc is not None or html is None else DocIndex(html)
        self._nodes = nodes  # None = fresh whole-doc, [] = empty object
        # opt-in REFERENCE-BUG-COMPATIBLE mode (SURVEY 2.11 A.8 + A.12):
        # 'a > b' also matches b deeper inside the direct child (the
        # reference re-searches the padded pseudo-element as descendants,
        # ParseHTML.php:1796-1823), and bracket quoted values keep the
        # closing quote / drop embedded spaces (:1110-1112). Default off
        # (CSS-correct / docblock semantics); for users migrating real
        # reference-dependent scrapers.
        self._compat = ref_compat

    def _sel(self, nodes) -> "PH":
        return PH(self._html, self._doc, nodes, ref_compat=self._compat)

    # -- constructors ------------------------------------------------------

    @classmethod
    def empty(cls) -> "PH":
        return cls(None, None, [])

    @classmethod
    def init(cls, contents: str, selector: str) -> "PH":
        """One-shot construct+find, scope 'raw' [:398-423]."""
        return cls(contents).find(selector)

    # -- introspection -----------------------------------------------------

    @property
    def doc(self) -> DocIndex | None:
        return self._doc

    @property
    def nodes(self) -> list[int]:
        return list(self._nodes) if self._nodes else []

    def __len__(self) -> int:
        if self._html is None:
            return 0
        if self._nodes is None:
            return 1  # fresh object: length 1 (the raw) [:140]
        return len(self._nodes)

    def _scopes(self) -> list[tuple[int, int]]:
        """find() search ranges: whole raw when fresh, each element's
        contents (descendants only) when a found set [:1671-1687]."""
        if self._nodes is None:
            return [(0, len(self._html))]
        d = self._doc
        return [(d.cstart_l[n], d.cend_l[n]) for n in self._nodes]

    # -- traversal ---------------------------------------------------------

    def find(self, selector: str) -> "PH":
        if self._html is None:
            return PH.empty()
        plan = _cached_plan(selector, self._compat)
        if plan is None:
            return PH.empty()
        ids = find_nodes(self._doc, plan, self._scopes())
        if not ids:
            return PH.empty()
        return self._sel(ids)

    def children(self, selector: str | None = None) -> "PH":
        if self._html is None:
            return PH.empty()
        d = self._doc
        kids = [ch for n in self._element_nodes() for ch in d.children_of(n)]
        return self._filtered(kids, selector, inside=self._compat)

    def _filtered(
        self, ids: list[int], selector: str | None, inside: bool = False
    ) -> "PH":
        """``ids`` deduped in document order, kept where some one-compound
        chain of ``selector`` matches the node (descendant chains are
        rejected for the filter [:366-370]). ``inside``: the A.8 compat
        child filter, which re-searches each child's padded pseudo-element,
        so the node itself OR any of its descendants may match [:357-392 +
        :1683-1686]."""
        d = self._doc
        if selector is not None:
            plan = _cached_plan(selector, self._compat)
            if plan is None:
                return PH.empty()
            cps = [_compiled(c[0]) for c in plan if len(c) == 1]

            def hit(k: int) -> bool:
                # node starts are strictly increasing, so [lo, lo + 1)
                # holds the node alone
                lo = d.start_l[k]
                hi = d.end_l[k] if inside else lo + 1
                return any(_match_in_range(d, cp, lo, hi) for cp in cps)

            ids = [k for k in ids if hit(k)]
        if not ids:
            return PH.empty()
        ids = sorted(set(ids), key=d.start_l.__getitem__)
        return self._sel(ids)

    # -- traversal extensions ----------------------------------------------
    # The reference stubs prev/next/parent/parents/contents ("// Todo.",
    # ParseHTML.php:274-328). Parent/sibling pointers are free in the node
    # table, so we implement them (flagged EXTENSION: excluded from the
    # reference-fidelity suite, jQuery semantics).

    def _siblings(self, offset: int, selector: str | None) -> "PH":
        # the next sibling starts where n's subtree ends; the previous
        # one's subtree ends at n, so it is the ancestor of n - 1 (or
        # n - 1 itself) whose parent is n's parent
        d = self._doc
        out = []
        for n in self._element_nodes():
            p = d.parent_l[n]
            if offset > 0:
                k = d.subtree_end_l[n]
                if k < d.n and d.parent_l[k] == p:
                    out.append(k)
            elif n - 1 > p:
                k = n - 1
                while d.parent_l[k] != p:
                    k = d.parent_l[k]
                out.append(k)
        return self._filtered(out, selector)

    def prev(self, selector: str | None = None) -> "PH":
        """EXTENSION: immediately preceding sibling element."""
        return self._siblings(-1, selector)

    def next(self, selector: str | None = None) -> "PH":
        """EXTENSION: immediately following sibling element."""
        return self._siblings(1, selector)

    def parent(self, selector: str | None = None) -> "PH":
        """EXTENSION: direct parent element of each element."""
        d = self._doc
        out = [d.parent_l[n] for n in self._element_nodes()]
        return self._filtered([p for p in out if p >= 0], selector)

    def parents(self, selector: str | None = None) -> "PH":
        """EXTENSION: all ancestors of each element."""
        d = self._doc
        out = []
        for n in self._element_nodes():
            p = d.parent_l[n]
            while p >= 0:
                out.append(p)
                p = d.parent_l[p]
        return self._filtered(out, selector)

    def contents_list(self) -> list:
        """EXTENSION: ordered child content of the first element --
        trimmed text pieces (str) and child elements (PH)."""
        d = self._doc
        nodes = self._element_nodes()
        if not nodes:
            return []
        from .tokenizer import trim_html

        n = nodes[0]
        out: list = []
        pos = d.cstart_l[n]
        for ch in d.children_of(n):
            t = trim_html(self._html[pos:d.start_l[ch]])
            if t:
                out.append(t)
            out.append(self._sel([ch]))
            pos = d.end_l[ch]
        t = trim_html(self._html[pos:d.cend_l[n]])
        if t:
            out.append(t)
        return out

    def filter_nodes(self, pred) -> "PH":
        """Row-level predicate hook (the reference's $callback UDF,
        ParseHTML.php:508-521): pred(doc, node_id) -> bool, applied to
        the current selection."""
        d = self._doc
        ids = [n for n in (self._nodes or []) if pred(d, n)]
        if not ids:
            return PH.empty()
        return self._sel(ids)

    def eq(self, index: int) -> "PH":
        if self._html is None or index < 0:
            return PH.empty()
        if self._nodes is None:
            # fresh object behaves as the single pseudo-element {0: raw}
            return self if index == 0 else PH.empty()
        if index < len(self._nodes):
            return self._sel([self._nodes[index]])
        return PH.empty()

    def _element_nodes(self) -> list[int]:
        """Nodes backing getElements(); the fresh object maps to the
        document's outermost element when the raw starts with one."""
        if self._nodes is not None:
            return list(self._nodes)
        return [0] if _starts_closed(self._doc) else []

    # -- terminals ---------------------------------------------------------

    def html(self) -> str | None:
        """Outer HTML of the FIRST element (jQuery deviation) [:234-238]."""
        if self._html is None:
            return None
        if self._nodes is None:
            return self._html
        if not self._nodes:
            return None
        return self._doc.outer(self._nodes[0])

    def text(self) -> str:
        """strip_tags of the first element's outer HTML [:249-252]: no
        entity decoding, no whitespace collapsing."""
        if self._html is None:
            return ""
        d = self._doc
        if self._nodes is None:
            return d.text_between(0, len(self._html))
        if not self._nodes:
            return ""
        n = self._nodes[0]
        return d.text_between(d.start_l[n], d.end_l[n])

    def attr(self, name: str):
        """Named attribute of the first element; names are stored
        lowercased and invalid names dropped (validate=True) [:265-269]."""
        attrs = self._first_attrs()
        return attrs.get(name)

    def _first_attrs(self) -> dict:
        if self._html is None:
            return {}
        if self._nodes is None:
            d = self._doc
            if d.n and d.start_l[0] == 0:
                return d.attrs(0, validate=True)
            return {}
        if not self._nodes:
            return {}
        return self._doc.attrs(self._nodes[0], validate=True)


# -- static scan API (reference parity layer) ------------------------------
# The reference exposes its physical scans publicly:
# getElementByTag/ById/ByClass/ByAttribute/ByAttributes, each returning a
# position -> start-tag map (ParseHTML.php:473-812). Same contract here:
# each is the matcher scan that find() dispatches to for the same kind.

def _starttag_map(html: str, cp) -> dict[int, str]:
    if not html:
        return {}
    doc = DocIndex(html)
    return {
        doc.start_l[i]: doc.starttag(i)
        for i in _match_in_range(doc, cp, 0, len(html))
    }


def get_elements_by_tag(tag: str, html: str) -> dict[int, str]:
    """Position -> start tag for every <tag> (case-insensitive); no tag
    whitelist, like the reference's commented-out check [:756-758]."""
    return _starttag_map(html, _compile(tag.strip(), ()))


def get_element_by_id(value: str, html: str) -> dict[int, str]:
    """First element whose id === value (strict, break) [:657-662]."""
    return _starttag_map(html, _id_scan(value))


def get_elements_by_class(value: str, html: str) -> dict[int, str]:
    """Class-word AND/OR conditions ('a AND b', 'a OR b') [:711-716]."""
    return _starttag_map(html, _class_scan(value))


def get_elements_by_attribute(attribute: str, html: str) -> dict[int, str]:
    """Presence scan, case-insensitive name, tag whitelist [:473-536]:
    R-quirk 11's textual whitespace + name match in the start tag."""
    return _starttag_map(html, _presence_scan(attribute))


def get_elements_by_attributes(conditions: str, html: str) -> dict[int, str]:
    """Condition-DSL scan [:594-614]: candidates from parsable fields,
    filtered by the full OR-of-ANDs evaluation."""
    return _starttag_map(html, _conditions_scan(None, conditions))


__all__ = [
    "PH",
    "DocIndex",
    "compile_selector",
    "parse_attrs",
    "eval_chain",
    "get_elements_by_tag",
    "get_element_by_id",
    "get_elements_by_class",
    "get_elements_by_attribute",
    "get_elements_by_attributes",
]
