"""Per-document call sequences of the benchmark workloads.

Each workload's per-doc function makes the same public engine calls, in
the same order, as the pipeline function the workload times in Spark,
and returns the output rows that pipeline emits for the document. The
reference digests, the traced replay and the Spark partition probe all
run these functions, so they can never disagree about what a workload
does.

Every layer call goes through ``call(name, fn, *args)``. Untraced runs
pass ``plain_call``; the traced replay passes a tracer that records a
span per call. Span names are ``<layer>.<function>``.

This module is shipped to the Spark workers with ``addPyFile``.
"""

from __future__ import annotations

import json
import zlib

from parse_html_spark.boilerplate import (
    TextMass,
    find_main_container,
    main_content_spans,
    node_masses,
    pruned_ranges,
)
from parse_html_spark.dom import PH
from parse_html_spark.extract import (
    FORM_SELECTOR,
    extract_form,
    extract_table_list,
    to_plain,
)
from parse_html_spark.matcher import find_nodes
from parse_html_spark.pipeline import assemble
from parse_html_spark.selector import compile_selector
from parse_html_spark.tokenizer import DocIndex

# tag, #id, .class, [attr^=...], [attr], descendant, child and comma union
SELECTORS = {
    "para": "p",
    "content_id": "#content-1",
    "intro": ".intro",
    "ref_link": "a[href^='/ref']",
    "alt_img": "img[alt]",
    "detail": "article p.detail",
    "list_item": "ul > li",
    "heading": "h1, title",
}

# Output columns of each pipeline shape and how a row is canonicalised
# for its digest: str (null -> \x00), int, bools and strs (arrays).
COMPACT_FIELDS = (
    ("doc_id", "str"),
    ("is_media", "bools"),
    ("texts", "strs"),
    ("media_refs", "strs"),
)
FIELDS = {
    "deep_nesting": COMPACT_FIELDS,
    "selector_fields": (
        ("doc_id", "str"),
        ("query", "str"),
        ("match_order", "int"),
        ("value", "str"),
    ),
    "full_page": COMPACT_FIELDS
    + (
        ("tables_json", "str"),
        ("form_json", "str"),
        ("title", "str"),
        ("n_nodes", "int"),
    ),
}

_NULL = "\x00"
_FIELD_SEP = "\x1f"
_ITEM_SEP = "\x1e"


def plain_call(_name, fn, *args):
    return fn(*args)


def _canon(kind: str, v) -> str:
    if kind == "str":
        return _NULL if v is None else v
    if kind == "int":
        return str(v)
    if kind == "bools":
        # Spark's cast(array<boolean> as string)
        return "[" + ", ".join("true" if b else "false" for b in v) + "]"
    return _ITEM_SEP.join(_NULL if s is None else s for s in v)


def row_crc(fields, row) -> int:
    key = _FIELD_SEP.join(_canon(k, v) for (_n, k), v in zip(fields, row))
    return zlib.crc32(key.encode("utf-8"))


def row_crc_col(workload: str):
    """The Spark-side twin of ``row_crc`` over a pipeline output row."""
    from pyspark.sql import functions as F

    parts = []
    for name, kind in FIELDS[workload]:
        c = F.col(name)
        if kind == "str":
            parts.append(F.coalesce(c, F.lit(_NULL)))
        elif kind in ("int", "bools"):
            parts.append(c.cast("string"))
        else:
            parts.append(F.array_join(c, _ITEM_SEP, _NULL))
    return F.crc32(F.concat_ws(_FIELD_SEP, *parts))


def _compact(doc_id, spans):
    return (
        doc_id,
        [k == "media" for k, _t, _r in spans],
        [t for _k, t, _r in spans],
        [r for _k, _t, r in spans],
    )


# -- per-doc sequences -----------------------------------------------------
# Each returns (rows, info); info carries the per-doc objects the traced
# replay derives its counters from.


def compact_doc(call, ctx, doc_id, spans):
    """extract_spans_compact: assemble, DocIndex, main_content_spans."""
    html, media = call("pipeline.assemble", assemble, spans)
    doc = call("tokenizer.doc_index", DocIndex, html)
    out = call("boilerplate.main_content_spans", main_content_spans, doc, media)
    row = call("pipeline.emit", _compact, doc_id, out)
    return [row], {"doc": doc, "spans": len(out)}


def _select_values(doc, ids):
    return [doc.text_between(doc.start_l[n], doc.end_l[n]) for n in ids]


def selector_fields_doc(call, ctx, doc_id, spans):
    """select_spans_multi(mode='text') with the SELECTORS plans in ``ctx``."""
    html, _media = call("pipeline.assemble", assemble, spans)
    doc = call("tokenizer.doc_index", DocIndex, html)
    scopes = [(0, len(html))]
    rows = []
    matches = 0
    for name, plan in ctx.items():
        if plan is None:
            continue
        ids = call("matcher.find_nodes", find_nodes, doc, plan, scopes)
        matches += len(ids)
        vals = call("pipeline.emit", _select_values, doc, ids)
        rows.extend((doc_id, name, k, v) for k, v in enumerate(vals))
    return rows, {"doc": doc, "matches": matches, "plans": len(ctx)}


def _page_json(tables, form):
    plain = to_plain(form)
    return (
        json.dumps([to_plain(t) for t in tables], ensure_ascii=False),
        json.dumps(plain, ensure_ascii=False),
        plain,
    )


def full_page_doc(call, ctx, doc_id, spans):
    """extract_page: one DocIndex shared by main content, tables, form
    and title."""
    html, media = call("pipeline.assemble", assemble, spans)
    doc = call("tokenizer.doc_index", DocIndex, html)
    out = call("boilerplate.main_content_spans", main_content_spans, doc, media)
    ph = call("dom.ph", PH, html, doc)
    title_sel = call("dom.find", ph.find, "title")
    table_sel = call("dom.find", ph.find, "table")
    tables = call("extract.table_list", extract_table_list, table_sel, True)
    form = call("extract.form", extract_form, ph)
    tables_json, form_json, form_plain = call(
        "extract.json", _page_json, tables, form
    )
    title = call("dom.text", title_sel.text)
    row = call("pipeline.emit", _compact, doc_id, out) + (
        tables_json,
        form_json,
        title,
        doc.n,
    )
    return [row], {
        "doc": doc,
        "spans": len(out),
        "tables": len(tables),
        "form_fields": _count_leaves(form_plain),
    }


def _count_leaves(v) -> int:
    if isinstance(v, dict):
        return sum(_count_leaves(x) for x in v.values())
    if isinstance(v, list):
        return sum(_count_leaves(x) for x in v)
    return 1


DOC_FUNCS = {
    "selector_fields": selector_fields_doc,
    "full_page": full_page_doc,
    "deep_nesting": compact_doc,
}


def workload_context(workload: str, call=plain_call):
    """Per-run state of a workload: the compiled selector plans (compiled
    once per run, as select_spans_multi compiles once per job)."""
    if workload == "full_page":
        # extract_page's finds compile through dom's per-process plan
        # cache; compiling its selectors here measures that one-time cost
        for sel in ("title", "table", FORM_SELECTOR):
            call("selector.compile", compile_selector, sel)
    if workload != "selector_fields":
        return None
    return {
        name: call("selector.compile", compile_selector, sel)
        for name, sel in SELECTORS.items()
    }


def boilerplate_stages(call, doc):
    """Attribution of main_content_spans' sub-stages on an existing
    DocIndex, in the order main_content_spans runs them."""
    tm = call("boilerplate.text_mass", TextMass, doc)
    tl, al = call("boilerplate.node_masses", node_masses, doc, tm)
    m_all = (tl - al).tolist()
    lo, hi = call(
        "boilerplate.find_main_container", find_main_container, doc, tm, m_all
    )
    call("boilerplate.pruned_ranges", pruned_ranges, doc, tm, lo, hi, tl, al)
    return lo, hi


def doc_digest(workload: str, ctx, doc_id, spans) -> tuple[int, int]:
    """(output rows, sum of row crc32) of one document."""
    rows, _info = DOC_FUNCS[workload](plain_call, ctx, doc_id, spans)
    fields = FIELDS[workload]
    return len(rows), sum(row_crc(fields, r) for r in rows)


# -- Spark worker-side functions -------------------------------------------


def passthrough_ids(batches):
    """The Python boundary alone: receive doc batches, emit doc_id only."""
    for pdf in batches:
        yield pdf[["doc_id"]]


def partition_probe(workload: str):
    """mapInPandas function timing the workload's per-doc engine calls
    inside each Spark partition: one row (partition, docs, engine ns)."""

    def run(batches):
        import time

        import pandas as pd
        from pyspark import TaskContext

        ctx = workload_context(workload)
        fn = DOC_FUNCS[workload]
        docs = 0
        ns = 0
        for pdf in batches:
            for doc_id, row_spans in zip(pdf["doc_id"], pdf["spans"]):
                t0 = time.perf_counter_ns()
                fn(plain_call, ctx, doc_id, [] if row_spans is None else row_spans)
                ns += time.perf_counter_ns() - t0
                docs += 1
        tc = TaskContext.get()
        yield pd.DataFrame(
            {
                "partition": [tc.partitionId() if tc else -1],
                "docs": [docs],
                "engine_ns": [ns],
            }
        )

    return run
