"""Distributed extraction pipelines over interleaved span documents.

Input table (BASELINE.json input_hint):
    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

The per-doc HTML byte stream is the offset-ordered concatenation of
kind='text' span texts; media spans occupy their offset slots and surface
as kind='media' output spans.

All pipelines are stateless mapInArrow stages (Arrow batches in and
out, no pandas) followed by native DataFrame ops, so
Catalyst handles pushdown/pruning and the same code runs under
readStream ... foreachBatch unchanged. Every per-document pipeline is
one ``_doc_map`` over a small per-doc function.
"""

from __future__ import annotations

import json
import time
from json.encoder import encode_basestring as _encode_str
from operator import itemgetter

import numpy as np
from pyspark.sql import functions as F

from .boilerplate import main_content_columns
from .dom import PH
from .extract import extract_form, extract_table_list, prepare_post_form, to_plain
from .matcher import find_nodes
from .selector import compile_selector
from .session import _batch_map
from .tokenizer import DocIndex

FORM_SCHEMA = "doc_id string, form_json string"


_OFFSET_KEY = itemgetter("offset")


def assemble(spans) -> tuple[str, list[tuple[int, str]]]:
    """Concatenate text spans in offset order; media spans become
    (assembled_char_position, media_ref) slots. ``spans`` is a list of
    dicts, as the batch kernel hands an ``array<struct>`` value over;
    None means no spans."""
    parts: list[str] = []
    media: list[tuple[int, str]] = []
    pos = 0
    for s in sorted(() if spans is None else spans, key=_OFFSET_KEY):
        if s["kind"] == "text":
            txt = s["text"] or ""
            parts.append(txt)
            pos += len(txt)
        else:
            media.append((pos, s["media_ref"] or ""))
    return "".join(parts), media


def _doc_map(df, per_doc, schema: str):
    """The one per-document map stage: span docs -> ``schema`` rows.

    ``per_doc(doc, media) -> {column: block}`` sees one DocIndex per
    document and returns ``_batch_map``'s column blocks (a list, range
    or 1-D ndarray per column, one entry per output row of that
    document). This adapter runs assemble -> DocIndex -> per_doc; the
    kernel adds doc_id and owns the batch loop and the output build."""

    def row(_doc_id, row_spans):
        html, media = assemble(row_spans)
        return per_doc(DocIndex(html), media)

    return _batch_map(df, row, schema, ("doc_id", "spans"), key="doc_id")


_END = object()


def _json(value) -> str:
    """json.dumps(to_plain(value), ensure_ascii=False), written by one
    loop over an explicit stack of (items left, closer) per open array
    or object, so depth never meets the recursion limit. Strings and
    keys go through json's own encode_basestring; other scalars, {} and
    [] through json.dumps itself, so every byte matches."""
    out = []
    stack = []
    v = to_plain(value)
    while True:
        if isinstance(v, str):
            out.append(_encode_str(v))
        elif v is None:
            out.append("null")
        elif isinstance(v, dict) and v:
            out.append("{")
            stack.append((iter(v.items()), "}"))
        elif isinstance(v, (list, tuple)) and v:
            out.append("[")
            stack.append((iter(v), "]"))
        else:
            out.append(json.dumps(v))
        while stack:
            items, closer = stack[-1]
            v = next(items, _END)
            if v is _END:
                out.append(closer)
                stack.pop()
                continue
            if out[-1] not in ("{", "["):  # not the first item
                out.append(", ")
            if closer == "}":
                k, v = v
                out.append(_encode_str(k if isinstance(k, str) else json.dumps(k)))
                out.append(": ")
            break
        else:
            return "".join(out)


def extract_spans(df):
    """Main-content extraction: span docs -> ordered output spans
    (doc_id, order, kind, text, media_ref). The flagship pipeline.

    The exploded row form is produced as compact parallel arrays in
    Python (the cheap Arrow shape) and exploded JVM-SIDE via posexplode:
    per-span Python rows never exist, so the row form costs the same
    map stage as extract_spans_compact plus a codegen'd generate."""
    return explode_compact(extract_spans_compact(df))


def partition_metrics(df_spans):
    """Per-partition extraction metrics over extract_spans output: docs,
    spans, text chars. No exchange sits between the map and the
    posexplode, so spark_partition_id() is the map task's partition."""
    return df_spans.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_spans"),
        F.sum(F.length("text")).alias("n_text_chars"),
    )


COMPACT_SPAN_SCHEMA = (
    "doc_id string, is_media array<boolean>, texts array<string>, "
    "media_refs array<string>"
)


def _compact_doc(doc, media):
    is_media, texts, media_refs = main_content_columns(doc, media)
    return {"is_media": [is_media], "texts": [texts], "media_refs": [media_refs]}


def extract_spans_compact(df):
    """Fastest span-preserving sink shape: the per-doc span sequence as
    PARALLEL PRIMITIVE ARRAYS (is_media / texts / media_refs, order =
    array index). Exactly the (kind, text, media_ref, order) tuple of
    the north rule, but Arrow serializes plain string/bool lists instead
    of per-span structs: ~2.5-3x the throughput of the struct shapes.
    explode_compact() recovers the row form losslessly."""
    return _doc_map(df, _compact_doc, COMPACT_SPAN_SCHEMA)


def explode_compact(df):
    """Compact columnar spans -> the exploded row form of extract_spans."""
    z = F.arrays_zip("is_media", "texts", "media_refs")
    ex = df.select("doc_id", F.posexplode(z).alias("order", "s"))
    return ex.select(
        "doc_id",
        F.col("order").cast("int").alias("order"),
        F.when(F.col("s.is_media"), F.lit("media"))
        .otherwise(F.lit("text"))
        .alias("kind"),
        F.col("s.texts").alias("text"),
        F.col("s.media_refs").alias("media_ref"),
    )


def extract_docs(df):
    """Extract + reassemble without a span-row explosion or a groupBy
    shuffle: (doc_id, text, media_refs). text = the span texts joined
    with ' ' (media spans contribute their empty text; main-content
    texts are never null, so array_join's null skipping cannot differ),
    byte-identical to reassemble_docs(extract_spans(df))."""
    return extract_spans_compact(df).select(
        "doc_id",
        F.array_join("texts", " ").alias("text"),
        F.array_compact("media_refs").alias("media_refs"),
    )


def _node_values(mode: str, attr_name: str | None):
    """(doc, node ids) -> one value per node: the node's text, outer
    html, or the value of attribute ``attr_name``."""
    if mode == "text":
        return lambda doc, ids: [
            doc.text_between(doc.start_l[n], doc.end_l[n]) for n in ids
        ]
    if mode == "html":
        return lambda doc, ids: [doc.outer(n) for n in ids]
    if mode == "attr" and attr_name is not None:
        return lambda doc, ids: [
            doc.attrs(n, validate=True).get(attr_name) for n in ids
        ]
    raise ValueError(
        f"mode={mode!r}: expected 'text', 'html', or 'attr' with attr_name"
    )


def _select(df, selectors: dict[str, str], mode, attr_name, ref_compat):
    values = _node_values(mode, attr_name)
    plans = [
        (name, plan)
        for name, sel in selectors.items()
        if (plan := compile_selector(sel, ref_compat=ref_compat)) is not None
    ]

    def per_doc(doc, _media):
        scopes = [(0, len(doc.html))]
        names, orders, vals = [], [], []
        for name, plan in plans:
            ids = find_nodes(doc, plan, scopes)
            names += [name] * len(ids)
            orders += range(len(ids))
            vals += values(doc, ids)
        return {"query": names, "match_order": orders, "value": vals}

    return _doc_map(
        df, per_doc, "doc_id string, query string, match_order int, value string"
    )


def select_spans(
    df,
    selector: str,
    mode: str = "text",
    attr_name: str | None = None,
    ref_compat: bool = False,
):
    """Run a CSS selector over every document; one output row per match.

    mode: 'text' | 'html' | 'attr' (attr_name required for 'attr').
    The selector is compiled ONCE on the driver and closure-captured
    (ref_compat=True compiles in reference-bug-compatible mode,
    SURVEY 2.11 A.8/A.12). Output: (doc_id, match_order, value)."""
    return _select(df, {"": selector}, mode, attr_name, ref_compat).drop("query")


def select_spans_multi(
    df, selectors: dict[str, str], mode: str = "text", ref_compat: bool = False
):
    """Run MANY selectors in one pass: the document is tokenized once
    and every compiled plan is evaluated against the same node index --
    amortizing the tokenizer across queries is the right shape when a
    production job extracts dozens of fields per page. mode is 'text'
    or 'html' ('attr' needs select_spans' attr_name).

    Output: (doc_id, query, match_order, value)."""
    return _select(df, selectors, mode, None, ref_compat)


def extract_tables_df(df, selector: str = "table"):
    """extractTable over every doc -> (doc_id, table_order, cells_json)."""

    def per_doc(doc, _media):
        sel = PH(doc.html, doc=doc).find(selector)
        tables = extract_table_list(sel, val_only=True)
        return {
            "table_order": range(len(tables)),
            "cells_json": [_json(t) for t in tables],
        }

    return _doc_map(df, per_doc, "doc_id string, table_order int, cells_json string")


def _form_doc(trigger: str | None):
    """extractForm (trigger None) or preparePostForm per doc."""

    def per_doc(doc, _media):
        ph = PH(doc.html, doc=doc)
        if trigger is None:
            return {"form_json": [_json(extract_form(ph))]}
        return {"form_json": [_json(prepare_post_form(ph, trigger))]}

    return per_doc


def extract_forms_df(df):
    """extractForm over every doc -> (doc_id, form_json)."""
    return _doc_map(df, _form_doc(None), FORM_SCHEMA)


def extract_post_forms_df(df, trigger: str):
    """preparePostForm over every doc -> (doc_id, form_json): all
    [type=submit] fields except the trigger are dropped (anti-join
    semantics, SURVEY.md 2.7)."""
    return _doc_map(df, _form_doc(trigger), FORM_SCHEMA)


NODE_SCHEMA = (
    "doc_id string, node_id int, tag string, start long, `end` long, "
    "cstart long, cend long, parent int, depth int"
)


def node_table(df, with_attrs: bool = False):
    """Exploded relational node table (SURVEY.md 1.2): one row per
    element across the corpus. Cross-document structural work then stays
    in native DataFrame ops -- descendant matching is a range-containment
    join, direct-child an equi-join on parent, and Catalyst/AQE pick the
    join strategy (broadcast the ancestor side when small).

    ``attrs`` is OPT-IN (with_attrs=True): most node-table consumers
    (tag histograms, descendant joins) never read attributes, and the
    map column is the only non-primitive in the row. When requested it
    crosses the Arrow bridge as parallel key/value arrays (primitive
    string columns, no per-node Python dicts) and becomes a MapType
    JVM-side via map_from_arrays."""

    def per_doc(doc, _media):
        # the numeric node lists go out as one ndarray block each: list
        # blocks measured 1.75x slower through the batch kernel
        out = {
            "node_id": np.arange(doc.n, dtype=np.int32),
            "tag": doc.tag,
            "start": np.asarray(doc.start_l, dtype=np.int64),
            "end": np.asarray(doc.end_l, dtype=np.int64),
            "cstart": np.asarray(doc.cstart_l, dtype=np.int64),
            "cend": np.asarray(doc.cend_l, dtype=np.int64),
            "parent": np.asarray(doc.parent_l, dtype=np.int64),
            "depth": np.asarray(doc.depth_l, dtype=np.int64),
        }
        if with_attrs:
            attrs = [doc.attrs(i) for i in range(doc.n)]
            out["attrs_keys"] = [list(a) for a in attrs]
            out["attrs_vals"] = [
                ["" if v is None else v for v in a.values()] for a in attrs
            ]
        return out

    if not with_attrs:
        return _doc_map(df, per_doc, NODE_SCHEMA)
    wide = _doc_map(
        df, per_doc,
        NODE_SCHEMA + ", attrs_keys array<string>, attrs_vals array<string>",
    )
    return wide.select(
        "doc_id", "node_id", "tag", "start", "end", "cstart", "cend",
        "parent", "depth",
        F.map_from_arrays("attrs_keys", "attrs_vals").alias("attrs"),
    )


def descendants_join(nodes, ancestor_tag: str, desc_tag: str):
    """Descendant matching in pure relational form: range containment
    join between the ancestor and descendant node sets (SURVEY.md 2.9).
    The filtered ancestor side is usually tiny -> broadcast it."""
    anc = F.broadcast(
        nodes.filter(F.col("tag") == ancestor_tag).select(
            F.col("doc_id").alias("a_doc"),
            F.col("node_id").alias("anc_id"),
            F.col("cstart").alias("a_lo"),
            F.col("cend").alias("a_hi"),
        )
    )
    desc = nodes.filter(F.col("tag") == desc_tag)
    return desc.join(
        anc,
        (desc.doc_id == anc.a_doc)
        & (desc.start >= anc.a_lo)
        & (desc.start < anc.a_hi),
    ).select("doc_id", "node_id", "anc_id", "tag", "start")


def apply_ph(df, fn, schema: str):
    """Generic per-document API hook: fn(PH) -> dict of column values
    (one output row per doc, doc_id added automatically; fn returns the
    same keys for every doc). This is the distributed form of the
    reference's chainable per-document API."""

    def per_doc(doc, _media):
        return {k: [v] for k, v in fn(PH(doc.html, doc=doc)).items()}

    return _doc_map(df, per_doc, schema)


PAGE_SCHEMA = (
    "doc_id string, is_media array<boolean>, texts array<string>, "
    "media_refs array<string>, tables_json string, form_json string, "
    "title string, n_nodes int"
)


def _page_doc(doc, media):
    out = _compact_doc(doc, media)
    ph = PH(doc.html, doc=doc)
    title = ph.find("title").text()
    tables = extract_table_list(ph, val_only=True)
    out["tables_json"] = [_json(tables)]
    out["form_json"] = [_json(extract_form(ph))]
    out["title"] = [title]
    out["n_nodes"] = [doc.n]
    return out


def extract_page(df):
    """One-pass full-page extraction: the document is tokenized ONCE and
    every extractor runs over the same node index -- main-content spans
    (compact shape), all tables (valueOnly JSON), form fields, title,
    node count. This is the production job shape: at 100 TB you never
    pay the tokenizer twice for the same page."""
    return _doc_map(df, _page_doc, PAGE_SCHEMA)


# -- scale infrastructure --------------------------------------------------

MEGA_DOC_CHARS = 500_000


def fan_out_small(df):
    """Round-robin fan-out for a SMALL input feeding an expensive
    per-row stage (engine mapInArrow, signature UDFs, interpreted
    array exprs).

    Scan split sizing is byte-based (maxPartitionBytes floored by
    openCostInBytes), so a KB-scale single-row-group parquet file plans
    1-2 splits and the compute-bound stage serializes on one core while
    the rest of the cluster idles (guide 2.5: input parallelism fixed
    right after the read). A no-op whenever the input already has >=
    defaultParallelism partitions -- a production-scale table never
    repartitions; only the pathological small-file case pays the (tiny)
    shuffle."""
    if df.isStreaming:
        return df  # micro-batch sizing is the trigger's job, and
        # .rdd is undefined on a streaming DataFrame
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def doc_size_col():
    return F.aggregate(
        "spans", F.lit(0), lambda acc, s: acc + F.length(F.coalesce(s["text"], F.lit("")))
    )


def prepare_partitions(
    df,
    partitions: int,
    mega_chars: int = MEGA_DOC_CHARS,
    size_col: str = "n_chars",
):
    """Skew defusal: spread mega-docs round-robin so the longest task is
    one biggest document, not a packet of them. AQE cannot rebalance a
    Python map stage by value skew (SURVEY.md section 4.3).

    When the input carries an INGEST-TIME size column (``size_col``,
    written by the corpus generator), the mega split is a pushed-down
    parquet predicate: row groups whose max(n_chars) stats clear the
    threshold are pruned from the mega branch without touching span
    bytes, and NO driver action runs before the real job. Without the
    column, size is derived from span lengths (one extra columnar scan).

    Mega docs are round-robin repartitioned into ``partitions`` slots --
    no count() action is needed; with the mega fraction ~0.2% and
    partitions sized at ~4x cores, each mega lands alone in its slot.

    Normal docs are NOT shuffled: byte-sized parquet scan splits
    already spread them evenly, and shuffling the full corpus through
    the exchange costs more than it saves (measured)."""
    if size_col in df.columns:
        size = F.col(size_col)  # ingest column: predicate pushes to scan
        # NULL size (e.g. a source that did not populate the ingest
        # column) routes to the normal branch -- rows must never vanish
        # because both strict comparisons are false on NULL
        small = df.filter((size <= mega_chars) | size.isNull())
        big_rows = df.filter(size > mega_chars)
    else:
        sized = df.withColumn("_n_chars", doc_size_col())
        small = sized.filter(F.col("_n_chars") <= mega_chars).drop("_n_chars")
        big_rows = sized.filter(F.col("_n_chars") > mega_chars).drop("_n_chars")
    big = big_rows.repartition(partitions)  # round-robin mega placement
    return small.unionByName(big)


def write_bucketed(df, path: str, buckets: int = 8, size_col: str = "n_chars") -> None:
    """Materialize a span-doc table partitioned by deterministic doc_id
    hash bucket (directory layout bucket=N/). Resume jobs over this
    layout get TRUE partition pruning: pending buckets are selected by
    path, and completed buckets' bytes are never read.

    When the ingest size column is present, rows are additionally SIZE-
    CLUSTERED within each bucket (sortWithinPartitions on size): megas
    sort to the file tail, so row-group min/max stats isolate them and
    prepare_partitions' skew split prunes at read time -- the parquet
    stand-in for an Iceberg sort-order spec."""
    out = df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets))
    )
    if size_col in df.columns:
        out = out.repartition(buckets, "bucket").sortWithinPartitions(
            "bucket", size_col
        )
    out.write.partitionBy("bucket").mode("overwrite").parquet(path)


def run_resumable(
    spark,
    input_path: str,
    output_dir: str,
    buckets: int = 8,
    partitions: int = 64,
    bucketed_input: bool = False,
):
    """Checkpoint-resumable extraction with per-bucket lineage + metrics.

    Work units are deterministic hash buckets of doc_id (stable across
    cluster sizes and retries). Completed buckets are recorded in
    <output_dir>/_manifest.json and skipped on rerun; per-bucket metrics
    commit as immutable snapshots of the <output_dir>/_metrics_wh
    warehouse table (Iceberg stand-in: atomic manifest, lineage,
    time travel). Output is idempotent: each bucket
    writes its own subdirectory with mode=overwrite.

    bucketed_input=True expects a write_bucketed() layout and reads ONLY
    the pending bucket's directory (partition pruning -- completed work's
    input bytes are never scanned, which is what makes resume cheap at
    100 TB). Default reads a flat table and filters on the hash, which
    still recomputes nothing but must scan doc_ids."""
    import os

    os.makedirs(output_dir, exist_ok=True)
    manifest_path = os.path.join(output_dir, "_manifest.json")
    manifest = {"input": input_path, "buckets": buckets, "done": []}
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("buckets") != buckets or manifest.get("input") != input_path:
            raise ValueError("manifest does not match job config")

    df = None
    if not bucketed_input:
        df = spark.read.parquet(input_path)
    bucket_col = F.pmod(F.xxhash64("doc_id"), F.lit(buckets))
    metrics_rows = []
    for b in range(buckets):
        if b in manifest["done"]:
            continue
        if bucketed_input:
            part = spark.read.parquet(os.path.join(input_path, f"bucket={b}"))
            keep = [c for c in ("doc_id", "spans", "n_chars") if c in part.columns]
            part = part.select(*keep)
        else:
            part = df.filter(bucket_col == b)
        part = prepare_partitions(part, partitions)
        out = extract_spans(part)
        # span count rides the WRITE action itself (CollectMetrics):
        # no post-write re-read -- at 100 TB a metrics-only second pass
        # over everything written would double the job's input volume
        from pyspark.sql import Observation

        obs = Observation(f"extract_bucket_{b}")
        out = out.observe(obs, F.count(F.lit(1)).alias("n_spans"))
        t0 = time.time()
        out_path = os.path.join(output_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(out_path)
        wall = time.time() - t0
        n_spans = int(obs.get["n_spans"])
        metrics_rows.append((b, n_spans, float(wall)))
        manifest["done"].append(b)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, manifest_path)  # atomic lineage commit
    if metrics_rows:
        mdf = spark.createDataFrame(
            metrics_rows, "bucket int, n_spans long, wall_sec double"
        )
        # metrics go to the snapshot-manifest warehouse (Iceberg stand-in,
        # sources/warehouse.py): each resume leg commits ONE immutable
        # snapshot whose lineage records which buckets it covered, so the
        # metrics table is itself time-travelable and atomically visible
        from .sources.warehouse import Warehouse

        wh = Warehouse(spark, os.path.join(output_dir, "_metrics_wh"))
        wh.append(
            mdf,
            "extraction_metrics",
            lineage={"input": input_path, "buckets": [r[0] for r in metrics_rows]},
        )
    return os.path.join(output_dir, "bucket=*")
