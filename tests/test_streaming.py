"""Structured Streaming: incremental extraction with checkpoint resume."""

import os

from parse_html_spark.fixtures import write_corpus_parquet
from parse_html_spark.pipeline import extract_spans
from parse_html_spark.streaming import (
    extract_spans_stream,
    for_each_batch_extract,
    streaming_dedup_first_seen,
)


def test_stateful_streaming_dedup(spark, tmp_path):
    """State survives across micro-batches AND restarts: a fingerprint
    emitted once is never emitted again."""
    in_dir = str(tmp_path / "sin")
    out_dir = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sck")
    os.makedirs(in_dir)
    # batch 1: docs 0..9
    write_corpus_parquet(os.path.join(in_dir, "p1.parquet"), 10)
    q = streaming_dedup_first_seen(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(180)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 10  # all distinct texts
    # batch 2 (restart): docs 0..9 AGAIN (same content, new file) plus
    # 5 genuinely new docs
    write_corpus_parquet(os.path.join(in_dir, "p2.parquet"), 10)  # dupes
    write_corpus_parquet(os.path.join(in_dir, "p3.parquet"), 5, start=200)
    q2 = streaming_dedup_first_seen(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(180)
    out = spark.read.parquet(out_dir)
    assert out.count() == 15  # 10 first-seen + 5 new; dupes suppressed
    assert out.select("fp").distinct().count() == 15


def test_watermarked_event_rollup(spark, tmp_path):
    import shutil

    from parse_html_spark.streaming import streaming_event_rollup

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(in_dir, "events.parquet"),
    )
    out_dir = str(tmp_path / "evout")
    ckpt = str(tmp_path / "evck")
    q = streaming_event_rollup(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(180)
    out = spark.read.parquet(out_dir)
    assert out.count() > 0
    assert set(out.columns) == {
        "window_start", "window_end", "event_type", "n_events", "sum_value",
    }
    # windows are closed (watermark passed) and well-formed
    row = out.first()
    assert row["window_end"] > row["window_start"]
    assert row["n_events"] > 0


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    write_corpus_parquet(os.path.join(in_dir, "part1.parquet"), 10)

    q = extract_spans_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out_dir)
    batch1 = extract_spans(
        spark.read.parquet(os.path.join(in_dir, "part1.parquet"))
    )
    assert got1.count() == batch1.count()

    # a new file lands; restart with the same checkpoint: ONLY the new
    # file is processed (incremental), totals now cover both
    write_corpus_parquet(os.path.join(in_dir, "part2.parquet"), 5, start=100)
    q2 = extract_spans_stream(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out_dir)
    batch2 = extract_spans(
        spark.read.parquet(os.path.join(in_dir, "part2.parquet"))
    )
    assert got2.count() == batch1.count() + batch2.count()
    assert got2.select("doc_id").distinct().count() == 15


def test_for_each_batch_extract_matches_batch(spark, tmp_path):
    """foreachBatch hands each micro-batch's extract_spans rows to the
    handler: across the batches they are the batch pipeline's rows, and
    a restart on the same checkpoint hands over only the new file."""
    import time

    in_dir = str(tmp_path / "fin")
    ckpt = str(tmp_path / "fck")
    os.makedirs(in_dir)
    write_corpus_parquet(os.path.join(in_dir, "part1.parquet"), 10)
    seen = []

    def handle(batch_df, epoch_id):
        seen.extend(tuple(r) for r in batch_df.collect())

    def drain_and_stop(q, expect_rows, timeout=120):
        deadline = time.time() + timeout
        while len(seen) < expect_rows and time.time() < deadline:
            if q.awaitTermination(1):
                break
        q.stop()
        q.awaitTermination(60)

    def batch_rows(name):
        df = spark.read.parquet(os.path.join(in_dir, name))
        return sorted(tuple(r) for r in extract_spans(df).collect())

    want1 = batch_rows("part1.parquet")
    drain_and_stop(for_each_batch_extract(spark, in_dir, handle, ckpt), len(want1))
    assert sorted(seen) == want1

    write_corpus_parquet(os.path.join(in_dir, "part2.parquet"), 5, start=100)
    want2 = batch_rows("part2.parquet")
    seen.clear()
    drain_and_stop(for_each_batch_extract(spark, in_dir, handle, ckpt), len(want2))
    assert sorted(seen) == want2


def test_stateful_dedup_state_ttl_evicts(spark, tmp_path):
    """With state_ttl_ms, a fingerprint idle past the TTL is EVICTED
    (memory stays bounded on unbounded streams) and a later
    re-occurrence is emitted again; without TTL it stays suppressed
    forever. Timeouts fire on keys with no data in a trigger, so an
    intermediate unrelated batch after the TTL elapses drives eviction.

    With ProcessingTimeTimeout an availableNow query does NOT
    self-terminate after draining the backlog (it lingers waiting for a
    future trigger to fire pending timeouts), so each leg is DRAINED to
    its expected output and stopped explicitly -- otherwise every
    awaitTermination burns its full timeout and the zombie query
    degrades the rest of the suite (measured: 553s -> ~40s)."""
    import time

    def drain_and_stop(q, expect_rows, out_dir, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if q.awaitTermination(3):
                return  # self-terminated
            try:
                if spark.read.parquet(out_dir).count() >= expect_rows:
                    break
            except Exception:  # noqa: BLE001 -- sink dir not created yet
                pass
        q.stop()
        q.awaitTermination(60)

    in_dir = str(tmp_path / "tin")
    out_dir = str(tmp_path / "tout")
    ckpt = str(tmp_path / "tck")
    os.makedirs(in_dir)
    ttl = 1_500  # ms

    # batch 1: docs 0..4 -> emitted, state created with TTL
    write_corpus_parquet(os.path.join(in_dir, "p1.parquet"), 5)
    q = streaming_dedup_first_seen(spark, in_dir, out_dir, ckpt, state_ttl_ms=ttl)
    drain_and_stop(q, 5, out_dir)
    assert spark.read.parquet(out_dir).count() == 5

    # batch 2 AFTER the TTL: unrelated keys only -> the idle 0..4
    # states time out and are removed in this trigger
    time.sleep(3)
    write_corpus_parquet(os.path.join(in_dir, "p2.parquet"), 3, start=500)
    q2 = streaming_dedup_first_seen(spark, in_dir, out_dir, ckpt, state_ttl_ms=ttl)
    drain_and_stop(q2, 8, out_dir)
    assert spark.read.parquet(out_dir).count() == 8

    # batch 3: docs 0..4 AGAIN -> re-emitted (their state was evicted)
    write_corpus_parquet(os.path.join(in_dir, "p3.parquet"), 5)
    q3 = streaming_dedup_first_seen(spark, in_dir, out_dir, ckpt, state_ttl_ms=ttl)
    drain_and_stop(q3, 13, out_dir)
    out = spark.read.parquet(out_dir)
    assert out.count() == 13  # 5 + 3 + 5 re-emits
    assert out.select("fp").distinct().count() == 8  # 0..4 appear twice


def test_streaming_near_dup_candidates(spark, tmp_path):
    """Stateful MinHash-LSH near-dup over a stream: an identical doc
    arriving in a LATER micro-batch run is flagged against the stored
    signature (state persists across restarts); unrelated docs are not."""
    from parse_html_spark.streaming import streaming_near_dup_candidates

    in_dir = str(tmp_path / "nin")
    out_dir = str(tmp_path / "nout")
    ckpt = str(tmp_path / "nck")
    os.makedirs(in_dir)
    write_corpus_parquet(os.path.join(in_dir, "p1.parquet"), 8)
    q = streaming_near_dup_candidates(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(180)
    import glob

    first = (
        spark.read.parquet(out_dir).collect()
        if glob.glob(out_dir + "/*.parquet")
        else []
    )
    # the seed corpus has no near-dup pairs among 8 docs
    assert first == []

    # restart with the SAME docs re-sent (new files) + 4 fresh ones
    write_corpus_parquet(os.path.join(in_dir, "p2.parquet"), 8)
    write_corpus_parquet(os.path.join(in_dir, "p3.parquet"), 4, start=300)
    q2 = streaming_near_dup_candidates(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(180)
    rows = spark.read.parquet(out_dir).collect()
    flagged = {r["doc_id"] for r in rows}
    assert {f"doc-{i:08d}" for i in range(8)} <= flagged  # all re-sent dup
    # identical re-sends estimate Jaccard 1.0 against the stored sig
    assert all(r["est_jaccard"] == 1.0 for r in rows)
    assert all(r["doc_id"] == r["dup_of"] for r in rows)  # matched self
    assert not any(r["doc_id"].startswith("doc-000003") for r in rows)


def test_streaming_dedup_equals_batch_keepers(spark, tmp_path):
    """Streaming<->batch equivalence pin: availableNow first-seen dedup
    over a corpus fully present at query start keeps exactly the same
    doc_ids as batch dedup_exact (min-id keeper per distinct text) on
    the same span-doc table."""
    from pyspark.sql import functions as F

    from parse_html_spark.functions.dedup import dedup_exact

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(in_dir)
    # two identical files (every doc duplicated) + distinct extras, ALL
    # written before the query starts so availableNow sees one backlog
    write_corpus_parquet(os.path.join(in_dir, "p1.parquet"), 12)
    write_corpus_parquet(os.path.join(in_dir, "p2.parquet"), 12)
    write_corpus_parquet(os.path.join(in_dir, "p3.parquet"), 6, start=300)
    q = streaming_dedup_first_seen(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(180)
    stream_kept = {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    }

    batch = spark.read.parquet(in_dir)
    text = F.concat_ws(
        "\x00",
        F.transform(
            F.array_sort(
                F.col("spans"),
                lambda a, b: F.when(a["offset"] < b["offset"], -1)
                .when(a["offset"] > b["offset"], 1)
                .otherwise(0),
            ),
            lambda s: F.coalesce(s["text"], F.lit("")),
        ),
    )
    batch_kept = {
        r["doc_id"]
        for r in dedup_exact(batch.select("doc_id", text.alias("text")))
        .select("doc_id")
        .collect()
    }
    assert stream_kept == batch_kept


def test_streaming_url_dedup_equals_batch(spark, tmp_path):
    """Streaming<->batch equivalence pin for URL dedup: availableNow
    first-seen over (doc_id, url) rows keeps exactly the batch
    url_dedup_first_seen keepers -- messy/canonical variants of one
    resource collapse, non-URL rows all survive on sentinel keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parse_html_spark.functions.urlfn import url_dedup_first_seen
    from parse_html_spark.streaming import streaming_url_dedup_first_seen

    rows = [
        ("01", "HTTPS://A.io:443/p/?utm_source=x&b=2&a=1"),
        ("02", "https://a.io/p?a=1&b=2"),   # same canonical as 01
        ("03", "https://a.io/q"),
        ("04", "junk one"),
        ("05", "junk two"),
        ("06", "https://a.io./q"),          # FQDN-dot variant of 03
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], type=pa.string()),
            "url": pa.array([r[1] for r in rows], type=pa.string()),
        }),
        os.path.join(in_dir, "urls.parquet"),
    )
    out_dir = str(tmp_path / "out")
    q = streaming_url_dedup_first_seen(
        spark, in_dir, out_dir, str(tmp_path / "ck")
    )
    q.awaitTermination(180)
    stream_kept = {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    }
    batch = spark.createDataFrame(rows, "doc_id string, url string")
    batch_kept = {
        r["doc_id"] for r in url_dedup_first_seen(batch).collect()
    }
    assert stream_kept == batch_kept == {"01", "03", "04", "05"}


def test_streaming_near_dup_covers_batch_verified_pairs(spark, tmp_path):
    """Streaming<->batch equivalence pin: the stateful MinHash-LSH
    stream's candidate edges cover every batch VERIFIED near-dup pair
    (exact duplicates estimate Jaccard 1.0 in every band, so banding or
    FIFO order cannot lose them), and every emitted edge clears the
    estimator threshold."""
    from pyspark.sql import functions as F

    from parse_html_spark.functions.dedup import minhash_near_duplicates
    from parse_html_spark.streaming import streaming_near_dup_candidates

    in_dir = str(tmp_path / "nin")
    out_dir = str(tmp_path / "nout")
    ckpt = str(tmp_path / "nck")
    os.makedirs(in_dir)
    write_corpus_parquet(os.path.join(in_dir, "p1.parquet"), 8)
    write_corpus_parquet(os.path.join(in_dir, "p2.parquet"), 8, start=500)
    # p3 plants exact duplicates: p1's spans verbatim under fresh doc_ids
    # (written via pyarrow as a FLAT file -- a Spark write would create a
    # directory, which the flat directory listing of the stream source
    # and batch read both skip)
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(in_dir, "p1.parquet"))
    dup_ids = pa.array(["dup-" + v for v in t["doc_id"].to_pylist()])
    pq.write_table(
        t.set_column(t.schema.get_field_index("doc_id"), "doc_id", dup_ids),
        os.path.join(in_dir, "p3.parquet"),
    )

    q = streaming_near_dup_candidates(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(240)
    edges = spark.read.parquet(out_dir).collect()
    stream_pairs = {frozenset((r["doc_id"], r["dup_of"])) for r in edges}
    assert all(r["est_jaccard"] >= 0.6 for r in edges)

    batch = spark.read.parquet(in_dir)
    text = F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.col("spans"),
                lambda a, b: F.when(a["offset"] < b["offset"], -1)
                .when(a["offset"] > b["offset"], 1)
                .otherwise(0),
            ),
            lambda s: F.coalesce(s["text"], F.lit("")),
        ),
    )
    verified = minhash_near_duplicates(
        batch.select("doc_id", text.alias("text")),
        num_hashes=32,
        bands=8,
        min_jaccard=0.999,  # the planted pairs are EXACT dups (J = 1.0)
    ).collect()
    batch_pairs = {frozenset((r["id_a"], r["id_b"])) for r in verified}
    assert len(batch_pairs) == 8  # one per planted duplicate
    assert batch_pairs <= stream_pairs


def test_first_seen_folds_min_across_arrow_chunks():
    """ADVICE r4: a fingerprint group spanning multiple Arrow record
    batches must emit the GROUP-WIDE min(doc_id), not the min of the
    first non-empty chunk (the pinned batch keeper rule)."""
    import pandas as pd

    from parse_html_spark.streaming import _make_first_seen

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True

        def setTimeoutDuration(self, ms):
            pass

        def remove(self):
            self.exists = False

    fn = _make_first_seen(None)
    chunks = iter(
        [
            pd.DataFrame({"doc_id": ["50", "90"]}),
            pd.DataFrame({"doc_id": []}),
            pd.DataFrame({"doc_id": ["10", "70"]}),  # group min in chunk 3
        ]
    )
    out = list(fn(("fp0",), chunks, FakeState()))
    assert len(out) == 1
    assert out[0]["doc_id"].tolist() == ["10"]
    # and the TTL variant folds identically
    fn_ttl = _make_first_seen(60_000)
    chunks = iter(
        [pd.DataFrame({"doc_id": ["9"]}), pd.DataFrame({"doc_id": ["08"]})]
    )
    out = list(fn_ttl(("fp1",), chunks, FakeState()))
    assert out[0]["doc_id"].tolist() == ["08"]  # lexicographic string min


def test_stream_lsh_oracle_margin_holds():
    """The stream_lsh oracle's margin argument, pinned as a test: after
    the SQL-expressible exclusion (prefix-extensions + exact-text dups
    of earlier ids), no remaining pair of sf0.001 documents reaches
    even half the 0.6 est-jaccard threshold, so the planted exact
    copies are the complete predicted output."""
    import duckdb
    import numpy as np

    from parse_html_spark.functions.dedup import _mh_coeffs, _minhash_sigs

    rows = duckdb.sql(
        "WITH d AS (SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')) "
        "SELECT text FROM d a "
        "WHERE NOT EXISTS (SELECT 1 FROM d b WHERE b.text = a.text "
        "AND b.doc_id < a.doc_id) "
        "AND NOT EXISTS (SELECT 1 FROM d b WHERE "
        "length(b.text) < length(a.text) AND starts_with(a.text, b.text))"
    ).fetchall()
    assert len(rows) >= 450  # the exclusion removes only the ~5% built-ins
    coeffs = _mh_coeffs(32)
    sigs = np.array(
        _minhash_sigs([t for (t,) in rows], coeffs, 3), dtype=np.int64
    )
    agree = (sigs[:, None, :] == sigs[None, :, :]).mean(axis=2)
    np.fill_diagonal(agree, 0.0)
    assert agree.max() < 0.3  # measured 0.156; threshold is 0.6


def test_quality_layer_streams_byte_identical(spark, tmp_path):
    """The stateless quality layer (Gopher verdict, PII redaction, BPE
    count, split label) runs under readStream UNCHANGED and its output
    is byte-identical to the batch projection on the same files."""
    in_dir = str(tmp_path / "qin")
    out_dir = str(tmp_path / "qout")
    ckpt = str(tmp_path / "qckpt")
    os.makedirs(in_dir)
    from parse_html_spark.functions.textfn import annotate_quality

    rows = [
        (1, "the quick brown fox jumps over a lazy dog on the mat\n"
            "another line full of plain readable words is here"),
        (2, "mail bob@example.com or visit 10.0.0.7 for the info"),
        (3, "dup line of words here\ndup line of words here\n"
            "dup line of words here\ndup line of words here"),
        (4, "### ### ###"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(in_dir, mode="append")

    sdf = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = (
        annotate_quality(sdf)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = annotate_quality(spark.read.parquet(in_dir))
    got = spark.read.parquet(out_dir)
    key = lambda r: r["doc_id"]
    assert sorted(map(tuple, got.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, batch.collect()), key=lambda t: t[0]
    )
    by_id = {r["doc_id"]: r for r in got.collect()}
    assert by_id[2]["text_redacted"] == (
        "mail <EMAIL> or visit <IPV4> for the info"
    )
    assert by_id[3]["reject_reason"] == "dup_lines"
    assert by_id[4]["keep"] is False
    assert {r["split"] for r in by_id.values()} <= {"train", "val", "test"}


def test_self_join_operators_reject_streaming_input(spark):
    """The six batch self-join operators checkpoint their key rows, which
    a stream cannot do: each fails at construction with a ValueError
    that names the operator and the streaming operators."""
    import pytest
    from pyspark.sql import functions as F

    from parse_html_spark.functions import dedup
    from parse_html_spark.functions.similarity import lsh_candidate_pairs

    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    sdf = rate.select(
        F.col("value").alias("doc_id"),
        F.concat(F.lit("doc words "), F.col("value").cast("string")).alias("text"),
        F.array(F.col("value").cast("float"), F.lit(1.0)).alias("embedding"),
        F.col("value").alias("vec_id"),
    )
    operators = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(sdf),
        "simhash_near_pairs": lambda: dedup.simhash_near_pairs(sdf),
        "token_jaccard_pairs": lambda: dedup.token_jaccard_pairs(sdf),
        "chunk_dup_stats": lambda: dedup.chunk_dup_stats(sdf),
        "dedup_lines_global": lambda: dedup.dedup_lines_global(sdf),
        "lsh_candidate_pairs": lambda: lsh_candidate_pairs(sdf, dim=2),
    }
    for name, build in operators.items():
        with pytest.raises(ValueError, match=name) as err:
            build()
        assert "streaming_near_dup_candidates" in str(err.value)
