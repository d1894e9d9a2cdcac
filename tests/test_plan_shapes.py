"""Physical-plan shape pins for the 100 TB claims: broadcasts where
intended, partial aggregation, no cartesian products in LSH joins, and
column pruning at both the scan and the Arrow bridge."""

import pytest
from pyspark.sql import functions as F

from parse_html_spark.fixtures import write_corpus_parquet


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "c.parquet")
    write_corpus_parquet(p, 30, procs=1)
    return spark.read.parquet(p)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_descendants_join_broadcasts_ancestors(spark, corpus):
    from parse_html_spark.pipeline import descendants_join, node_table

    nodes = node_table(corpus)
    plan = _plan(descendants_join(nodes, "table", "td"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_exact_dedup_partial_aggregation(spark, corpus):
    """Map-side partial aggregation: only (digest, partial counts) cross
    the exchange, never document text."""
    from parse_html_spark.functions.dedup import exact_duplicates

    docs = spark.createDataFrame(
        [(i, f"text {i % 5}") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(exact_duplicates(docs))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_" in plan


def test_lsh_joins_are_never_cartesian(spark):
    """All three candidate operators self-join on short bucket keys (no
    cartesian product), and the executed pair plan holds no
    ArrowEvalPython: the signature UDF ran once, inside the checkpoint
    both join sides read."""
    from parse_html_spark.functions.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from parse_html_spark.functions.similarity import lsh_candidate_pairs

    docs = spark.createDataFrame(
        [(i, f"some text number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    for df in (
        minhash_lsh_pairs(docs),
        simhash_near_pairs(docs),
        lsh_candidate_pairs(vecs, dim=2),
    ):
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "ArrowEvalPython" not in plan


KERNEL_PIPELINES = {
    "extract_spans": lambda P, df: P.extract_spans(df),
    "extract_spans_compact": lambda P, df: P.extract_spans_compact(df),
    "extract_docs": lambda P, df: P.extract_docs(df),
    "select_spans": lambda P, df: P.select_spans(df, "p"),
    "select_spans_multi": lambda P, df: P.select_spans_multi(df, {"p": "p"}),
    "extract_tables_df": lambda P, df: P.extract_tables_df(df),
    "extract_forms_df": lambda P, df: P.extract_forms_df(df),
    "extract_post_forms_df": lambda P, df: P.extract_post_forms_df(df, "go"),
    "node_table": lambda P, df: P.node_table(df, with_attrs=True),
    "apply_ph": lambda P, df: P.apply_ph(
        df, lambda ph: {"t": ph.text()}, "t string, doc_id string"
    ),
    "extract_page": lambda P, df: P.extract_page(df),
}


@pytest.mark.parametrize("pipeline", list(KERNEL_PIPELINES))
def test_arrow_bridge_prunes_columns(spark, corpus, pipeline):
    """mapInArrow stages select only (doc_id, spans): the ingest
    n_chars column must not cross the Python boundary, and the pruning
    must reach the parquet scan's ReadSchema."""
    from parse_html_spark import pipeline as P

    assert "n_chars" in corpus.columns
    plan = _plan(KERNEL_PIPELINES[pipeline](P, corpus))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines and all("n_chars" not in ln for ln in scan_lines)


MEDIA_OPERATORS = {
    "resize_images": lambda M, df: M.resize_images(df, 8, 8),
    "sample_frames": lambda M, df: M.sample_frames(df),
    "extract_media_features": lambda M, df: M.extract_media_features(df),
}


@pytest.mark.parametrize("operator", list(MEDIA_OPERATORS))
def test_media_bridge_prunes_columns(spark, operator):
    """The media operators hand only (media_ref, payload) to Python: a
    wide input's other columns never cross the Arrow bridge."""
    import re

    from parse_html_spark.functions import media as M

    wide = M.attach_payload(
        spark.createDataFrame([("media://img-1",)], "media_ref string")
    ).withColumn("big", F.repeat(F.lit("x"), 1000))
    plan = _plan(MEDIA_OPERATORS[operator](M, wide))
    (line,) = [ln for ln in plan.splitlines() if "MapInArrow" in ln]
    inputs = re.search(r"MapInArrow \w+\(([^)]*)\)", line).group(1)
    assert re.sub(r"#\d+", "", inputs).split(", ") == ["media_ref", "payload"]


def test_bucketed_writes_are_size_clustered(spark, tmp_path, corpus):
    """write_bucketed sorts by n_chars within buckets so mega rows sit
    at each file's tail (row-group stat isolation at scale)."""
    import pyspark.sql.functions as F

    from parse_html_spark.pipeline import write_bucketed

    out = str(tmp_path / "bucketed")
    write_bucketed(corpus, out, buckets=2)
    back = spark.read.parquet(out)
    assert back.count() == corpus.count()
    # within each bucket file, n_chars is non-decreasing
    import glob

    import pyarrow.parquet as pq

    for f in glob.glob(out + "/bucket=*/*.parquet"):
        vals = pq.read_table(f, columns=["n_chars"])["n_chars"].to_pylist()
        assert vals == sorted(vals)


def test_exploded_rows_generated_jvm_side(spark, corpus):
    """extract_spans' row form must be the compact map + a JVM Generate
    (posexplode): exactly ONE Python stage in the plan, and a Generate
    above it -- per-span rows never exist in Python."""
    from parse_html_spark.pipeline import extract_spans

    plan = _plan(extract_spans(corpus))
    assert plan.count("MapInArrow") == 1
    assert "Generate" in plan and "posexplode" in plan


def test_pdf_read_single_python_stage(spark, tmp_path):
    """The PDF source plan is scan -> ONE MapInArrow; an n_chars
    rollup stays map-side partial with a single-row exchange, and no
    record-row shuffle ever appears (PLANS.md 'PDF source read')."""
    from parse_html_spark.sources.pdf import encode_pdf, layout_doc
    from parse_html_spark.sources.pdf import read_span_docs_pdf

    for i in range(4):
        (tmp_path / f"{i}.pdf").write_bytes(
            encode_pdf(layout_doc(f"plan pin doc {i} body text " * 8))
        )
    df = read_span_docs_pdf(spark, str(tmp_path))
    plan = _plan(df)
    assert plan.count("MapInArrow") == 1
    assert "Exchange" not in plan  # bare read shuffles nothing
    agg = df.agg(F.sum("n_chars"))
    aplan = _plan(agg)
    assert aplan.count("MapInArrow") == 1
    assert "partial_sum" in aplan
    assert aplan.count("Exchange") == 1 and "SinglePartition" in aplan
