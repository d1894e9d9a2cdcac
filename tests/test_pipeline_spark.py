"""End-to-end Spark pipeline tests (local[4], Arrow mapInPandas path --
the real distributed codepath, not pandas-only)."""

import json
import os

import pytest

from parse_html_spark.dom import PH
from parse_html_spark.fixtures import gen_doc, write_corpus_parquet
from parse_html_spark.pipeline import (
    assemble,
    extract_forms_df,
    extract_spans,
    extract_tables_df,
    prepare_partitions,
    run_resumable,
    select_spans,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "docs.parquet")
    write_corpus_parquet(path, N_DOCS)
    return spark.read.parquet(path)


def test_extract_spans_invariants(spark, corpus):
    out = extract_spans(corpus).toPandas()
    assert set(out["kind"].unique()) <= {"text", "media"}
    assert out["doc_id"].nunique() == N_DOCS
    for doc_id, grp in out.groupby("doc_id"):
        orders = sorted(grp["order"])
        assert orders == list(range(len(orders))), doc_id
    # text spans are non-empty; media spans carry refs and empty text
    texts = out[out["kind"] == "text"]
    media = out[out["kind"] == "media"]
    assert (texts["text"].str.len() > 0).all()
    assert (media["text"] == "").all()
    assert media["media_ref"].notna().all()


def test_extract_spans_strips_boilerplate(spark, corpus):
    out = extract_spans(corpus).toPandas()
    joined = " ".join(out[out["kind"] == "text"]["text"])
    # nav/footer/aside link text lives only inside <a> inside boiler tags;
    # none of the href path fragments may leak into extracted text
    assert "/ref/" not in joined  # hrefs never in text at all
    # input media spans survive with their refs
    refs = set(out[out["kind"] == "media"]["media_ref"])
    assert any(r.startswith("media://img-") for r in refs)


def test_extract_spans_matches_local_engine(spark, corpus):
    """The distributed result equals the per-doc engine run locally."""
    from parse_html_spark.boilerplate import main_content_spans
    from parse_html_spark.tokenizer import DocIndex

    out = extract_spans(corpus).toPandas()
    for i in [0, 3, 17]:
        d = gen_doc(i)
        html, media = assemble(d["spans"])
        expected = main_content_spans(DocIndex(html), media)
        got = out[out["doc_id"] == d["doc_id"]].sort_values("order")
        got_spans = list(zip(got["kind"], got["text"], got["media_ref"]))
        norm = [(k, t, r if r is not None else None) for k, t, r in expected]
        assert got_spans == norm, d["doc_id"]


def test_select_spans_matches_ph(spark, corpus):
    for selector in ["p", "article .intro", "table td", "a[href^=\"/\"]"]:
        out = select_spans(corpus, selector, mode="text").toPandas()
        for i in [1, 5]:
            d = gen_doc(i)
            html, _ = assemble(d["spans"])
            ph = PH(html).find(selector)
            vals = [
                PH(html, ph.doc, [n]).text() for n in ph.nodes
            ]
            got = out[out["doc_id"] == d["doc_id"]].sort_values("match_order")
            assert list(got["value"]) == vals, (selector, i)


def test_select_spans_multi_matches_single(spark, corpus):
    from parse_html_spark.pipeline import select_spans_multi

    sels = {"paras": "article p.intro", "cells": "table td", "bad": "div,"}
    multi = select_spans_multi(corpus, sels).toPandas()
    assert set(multi["query"].unique()) <= {"paras", "cells"}
    for name in ("paras", "cells"):
        single = select_spans(corpus, sels[name], mode="text").toPandas()
        got = multi[multi["query"] == name][
            ["doc_id", "match_order", "value"]
        ]
        a = {tuple(r) for r in got.itertuples(index=False)}
        b = {tuple(r) for r in single.itertuples(index=False)}
        assert a == b, name


def test_tables_and_forms(spark, corpus):
    tdf = extract_tables_df(corpus).toPandas()
    assert len(tdf) > 0
    for cj in tdf["cells_json"].head(20):
        json.loads(cj)  # valid JSON
    fdf = extract_forms_df(corpus).toPandas()
    assert len(fdf) == N_DOCS
    forms = [json.loads(x) for x in fdf["form_json"]]
    assert any(f for f in forms)  # some docs have forms
    assert any("go" in f for f in forms if f)


def test_extract_page_one_pass(spark, corpus):
    import json

    from parse_html_spark.pipeline import extract_page

    out = extract_page(corpus).toPandas()
    assert len(out) == N_DOCS
    assert (out["n_nodes"] > 0).all()
    assert (out["title"].str.len() > 0).all()
    # spans agree with the dedicated pipeline
    flat = extract_spans(corpus).toPandas()
    for d in [out.iloc[0], out.iloc[7]]:
        got = list(d["texts"])
        exp = list(
            flat[flat["doc_id"] == d["doc_id"]].sort_values("order")["text"]
        )
        assert got == exp
    # tables/forms agree with the dedicated pipelines
    tdf = extract_tables_df(corpus).toPandas()
    for _i, d in out.iterrows():
        tables = json.loads(d["tables_json"])
        n_ded = len(tdf[tdf["doc_id"] == d["doc_id"]])
        assert len(tables) == n_ded
        json.loads(d["form_json"])


def test_media_interleave_golden(spark):
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "<div id=m><p>alpha ", "media_ref": None, "offset": 0},
                {"kind": "img", "text": "", "media_ref": "media://x", "offset": 19},
                {"kind": "text", "text": "beta</p></div>", "media_ref": None, "offset": 20},
            ],
        )
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = extract_spans(df).toPandas().sort_values("order")
    got = list(zip(out["kind"], out["text"], out["media_ref"]))
    assert got == [
        ("text", "alpha ", None),
        ("media", "", "media://x"),
        ("text", "beta", None),
    ]


def test_compact_equals_exploded(spark, corpus):
    from parse_html_spark.pipeline import (
        explode_compact,
        extract_spans_compact,
    )

    a = {
        tuple(r)
        for r in explode_compact(extract_spans_compact(corpus)).collect()
    }
    b = {tuple(r) for r in extract_spans(corpus).collect()}
    assert a == b


def test_extract_docs_equals_reassembled(spark, corpus):
    from parse_html_spark.pipeline import extract_docs
    from parse_html_spark.training import reassemble_docs

    fused = extract_docs(corpus).toPandas().set_index("doc_id")
    two_pass = (
        reassemble_docs(extract_spans(corpus)).toPandas().set_index("doc_id")
    )
    # docs with zero output spans appear only in the fused form
    common = two_pass.index
    assert len(common) == N_DOCS
    for d in common:
        assert fused.loc[d, "text"] == two_pass.loc[d, "text"]
        assert list(fused.loc[d, "media_refs"]) == list(
            two_pass.loc[d, "media_refs"]
        )


def test_partition_metrics(spark, corpus):
    from parse_html_spark.pipeline import partition_metrics

    m = partition_metrics(extract_spans(corpus)).toPandas()
    assert m["n_docs"].sum() == N_DOCS
    assert (m["n_spans"] > 0).all()


def test_prepare_partitions_runs(spark, corpus):
    df = prepare_partitions(corpus, partitions=4, mega_chars=10_000)
    assert extract_spans(df).count() == extract_spans(corpus).count()


def test_resumable_bucketed_pruning(spark, tmp_path):
    """Bucketed layout resume equals flat resume output exactly."""
    from parse_html_spark.pipeline import write_bucketed

    src = str(tmp_path / "flat.parquet")
    write_corpus_parquet(src, 20)
    bsrc = str(tmp_path / "bucketed")
    write_bucketed(spark.read.parquet(src), bsrc, buckets=4)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    run_resumable(spark, src, out_a, buckets=4, partitions=4)
    run_resumable(
        spark, bsrc, out_b, buckets=4, partitions=4, bucketed_input=True
    )
    a = {tuple(r) for r in spark.read.parquet(os.path.join(out_a, "bucket=*")).collect()}
    b = {tuple(r) for r in spark.read.parquet(os.path.join(out_b, "bucket=*")).collect()}
    assert a == b


def test_resumable_kill_and_resume(spark, tmp_path):
    src = str(tmp_path / "in.parquet")
    write_corpus_parquet(src, 30)
    out1 = str(tmp_path / "single")
    run_resumable(spark, src, out1, buckets=4, partitions=4)
    full = spark.read.parquet(os.path.join(out1, "bucket=*"))
    n_full = full.count()

    # simulate a crash after 2 buckets: rewind the manifest + delete dirs
    out2 = str(tmp_path / "resumed")
    run_resumable(spark, src, out2, buckets=4, partitions=4)
    manifest_path = os.path.join(out2, "_manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    import shutil

    for b in manifest["done"][2:]:
        shutil.rmtree(os.path.join(out2, f"bucket={b}"))
    manifest["done"] = manifest["done"][:2]
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)

    # resume: must recompute exactly the missing buckets
    run_resumable(spark, src, out2, buckets=4, partitions=4)
    resumed = spark.read.parquet(os.path.join(out2, "bucket=*"))
    assert resumed.count() == n_full
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in resumed.collect()}
    assert a == b


def test_prepare_partitions_ingest_size_pushdown(spark, corpus):
    """With the ingest-time n_chars column, the mega split is a
    pushed-down parquet predicate (no size recompute from spans, no
    driver count action), and routing equals the derived-size path."""
    assert "n_chars" in corpus.columns
    routed = prepare_partitions(corpus, partitions=4, mega_chars=10_000)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_chars" in plan
    legacy = prepare_partitions(
        corpus.select("doc_id", "spans"), partitions=4, mega_chars=10_000
    )
    got = {
        tuple(r)
        for r in extract_spans(routed.select("doc_id", "spans")).collect()
    }
    want = {tuple(r) for r in extract_spans(legacy).collect()}
    assert got == want


def test_resumable_metrics_in_warehouse(spark, tmp_path):
    """Per-bucket extraction metrics land in the snapshot-manifest
    warehouse (Iceberg stand-in): one immutable snapshot per resume leg,
    lineage recording the covered buckets, time travel across legs."""
    import json

    from parse_html_spark.sources.warehouse import Warehouse

    src = str(tmp_path / "in.parquet")
    write_corpus_parquet(src, 20)
    out = str(tmp_path / "out")
    run_resumable(spark, src, out, buckets=4, partitions=4)
    wh = Warehouse(spark, os.path.join(out, "_metrics_wh"))
    snaps = wh.snapshots("extraction_metrics")
    assert len(snaps) == 1
    assert sorted(snaps[0]["lineage"]["buckets"]) == [0, 1, 2, 3]
    m = wh.read("extraction_metrics")
    assert m.count() == 4
    assert m.agg({"n_spans": "sum"}).first()[0] > 0

    # rewind two buckets and resume: metrics append as a SECOND snapshot
    man_path = os.path.join(out, "_manifest.json")
    man = json.load(open(man_path))
    man["done"] = man["done"][:2]
    json.dump(man, open(man_path, "w"))
    run_resumable(spark, src, out, buckets=4, partitions=4)
    snaps2 = wh.snapshots("extraction_metrics")
    assert len(snaps2) == 2
    assert wh.read("extraction_metrics").count() == 6  # 4 + 2 resumed
    assert wh.read("extraction_metrics", as_of=0).count() == 4  # time travel


def test_node_table_attrs_opt_in(spark, corpus):
    """attrs is opt-in and arrives JVM-side via map_from_arrays over
    parallel key/value primitive arrays (no per-node Python dicts);
    values must match the per-doc engine's attrs()."""
    from parse_html_spark.pipeline import node_table
    from parse_html_spark.tokenizer import DocIndex

    lean = node_table(corpus)
    assert "attrs" not in lean.columns  # default: no map column at all
    nodes = node_table(corpus, with_attrs=True).toPandas()
    assert "attrs" in nodes.columns
    d = gen_doc(2)
    html, _ = assemble(d["spans"])
    doc = DocIndex(html)
    got = nodes[nodes["doc_id"] == d["doc_id"]].sort_values("node_id")
    assert len(got) == doc.n
    for i, row_attrs in zip(got["node_id"], got["attrs"]):
        want = {
            k: ("" if v is None else v) for k, v in doc.attrs(int(i)).items()
        }
        assert dict(row_attrs) == want, (d["doc_id"], i)


def test_resumable_metrics_match_written_rows(spark, tmp_path):
    """n_spans comes from an observed metric on the write action (no
    post-write re-read); it must equal the rows actually written."""
    from parse_html_spark.sources.warehouse import Warehouse

    src = str(tmp_path / "in.parquet")
    write_corpus_parquet(src, 20)
    out = str(tmp_path / "out")
    run_resumable(spark, src, out, buckets=2, partitions=4)
    wh = Warehouse(spark, os.path.join(out, "_metrics_wh"))
    m = wh.read("extraction_metrics")
    total_metric = m.agg({"n_spans": "sum"}).first()[0]
    total_actual = spark.read.parquet(os.path.join(out, "bucket=*")).count()
    assert total_metric == total_actual


def _engine_rows(pipeline, doc_id, html, media):
    """A pipeline's output rows for one doc, straight from the per-doc
    engine (no Spark, no map kernel), in the pipeline's column order."""
    from parse_html_spark.boilerplate import main_content_spans
    from parse_html_spark.extract import (
        extract_form,
        extract_table_list,
        prepare_post_form,
        to_plain,
    )
    from parse_html_spark.matcher import find_nodes
    from parse_html_spark.selector import compile_selector
    from parse_html_spark.tokenizer import DocIndex

    doc = DocIndex(html)
    ph = PH(html, doc=doc)

    def dumps(v):
        return json.dumps(to_plain(v), ensure_ascii=False)

    def matches(sel):
        plan = compile_selector(sel)
        return [] if plan is None else find_nodes(doc, plan, [(0, len(html))])

    spans = main_content_spans(doc, media)
    compact = (
        [k == "media" for k, _t, _r in spans],
        [t for _k, t, _r in spans],
        [r for _k, _t, r in spans],
    )
    tables = extract_table_list(ph.find("table"), val_only=True)
    if pipeline == "extract_spans_compact":
        return [(doc_id, *compact)]
    if pipeline == "extract_spans":
        return [(doc_id, i, *s) for i, s in enumerate(spans)]
    if pipeline == "extract_docs":
        text = " ".join(compact[1])
        return [(doc_id, text, [r for r in compact[2] if r is not None])]
    if pipeline == "select_text":
        ids = matches("p")
        vals = [doc.text_between(doc.start_l[n], doc.end_l[n]) for n in ids]
        return [(doc_id, k, v) for k, v in enumerate(vals)]
    if pipeline == "select_html":
        return [(doc_id, k, doc.outer(n)) for k, n in enumerate(matches("a"))]
    if pipeline == "select_attr":
        vals = [doc.attrs(n, validate=True).get("href") for n in matches("a")]
        return [(doc_id, k, v) for k, v in enumerate(vals)]
    if pipeline == "select_none":
        return []
    if pipeline == "select_multi":
        return [
            (doc_id, q, k, doc.outer(n))
            for q, sel in (("td", "td"), ("none", "blink"))
            for k, n in enumerate(matches(sel))
        ]
    if pipeline == "tables":
        return [(doc_id, k, dumps(t)) for k, t in enumerate(tables)]
    if pipeline == "forms":
        return [(doc_id, dumps(extract_form(ph)))]
    if pipeline == "post_forms":
        return [(doc_id, dumps(prepare_post_form(ph, "go")))]
    if pipeline == "node_table":
        return [
            (doc_id, i, doc.tag[i], doc.start_l[i], doc.end_l[i],
             doc.cstart_l[i], doc.cend_l[i], doc.parent_l[i], doc.depth_l[i],
             {k: "" if v is None else v for k, v in doc.attrs(i).items()})
            for i in range(doc.n)
        ]
    if pipeline == "apply_ph":
        return [(len(ph.find("p")), ph.find("title").text(), doc_id)]
    assert pipeline == "extract_page"
    return [
        (doc_id, *compact, dumps([to_plain(t) for t in tables]),
         dumps(extract_form(ph)), ph.find("title").text(), doc.n)
    ]


EDGE_PIPELINES = {
    "extract_spans_compact": lambda P, df: P.extract_spans_compact(df),
    "extract_spans": lambda P, df: P.extract_spans(df),
    "extract_docs": lambda P, df: P.extract_docs(df),
    "select_text": lambda P, df: P.select_spans(df, "p"),
    "select_html": lambda P, df: P.select_spans(df, "a", mode="html"),
    "select_attr": lambda P, df: P.select_spans(
        df, "a", mode="attr", attr_name="href"
    ),
    "select_none": lambda P, df: P.select_spans(df, "blink"),
    "select_multi": lambda P, df: P.select_spans_multi(
        df, {"td": "td", "none": "blink", "bad": "div,"}, mode="html"
    ),
    "tables": lambda P, df: P.extract_tables_df(df),
    "forms": lambda P, df: P.extract_forms_df(df),
    "post_forms": lambda P, df: P.extract_post_forms_df(df, "go"),
    "node_table": lambda P, df: P.node_table(df, with_attrs=True),
    "apply_ph": lambda P, df: P.apply_ph(
        df,
        lambda ph: {"n_p": len(ph.find("p")), "title": ph.find("title").text()},
        "n_p int, title string, doc_id string",
    ),
    "extract_page": lambda P, df: P.extract_page(df),
}


@pytest.fixture(scope="module")
def edge_docs():
    """Fixture docs with forms, tables and media, plus a NULL-spans doc
    and an empty-array doc."""
    docs = [(d["doc_id"], d["spans"]) for d in map(gen_doc, (0, 5, 9, 11))]
    return docs + [("null_spans", None), ("no_spans", [])]


@pytest.mark.parametrize("pipeline", list(EDGE_PIPELINES))
def test_doc_map_edge_docs_match_engine(spark, edge_docs, pipeline):
    """Every map-kernel pipeline equals the per-doc engine on NULL and
    empty span arrays and on a selector that matches no doc (every
    batch empty)."""
    from parse_html_spark import pipeline as P

    df = spark.createDataFrame(
        edge_docs,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )

    def norm(v):
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        return tuple(v) if isinstance(v, list) else v

    out = EDGE_PIPELINES[pipeline](P, df)
    got = [tuple(map(norm, r)) for r in out.collect()]
    want = [
        tuple(map(norm, r))
        for doc_id, spans in edge_docs
        for r in _engine_rows(pipeline, doc_id, *assemble(spans or []))
    ]
    assert sorted(got, key=repr) == sorted(want, key=repr)
