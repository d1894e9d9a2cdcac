"""Structured Streaming lift of the extraction pipeline.

The reference is a synchronous per-document library with no streaming
surface (SURVEY.md 2.10); the natural Spark lift is trivial because the
extraction stage is a STATELESS mapInArrow: the same extract_spans()
plan runs under readStream unchanged. Checkpointing gives exactly-once
file-sink semantics; late data needs no watermark (no event-time aggs).
"""

from __future__ import annotations

from .session import _worker_setup

SPAN_INPUT_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _parquet_sink(df, output_dir: str, checkpoint_dir: str, available_now=True):
    """Start ``df`` as an append-mode parquet file stream checkpointed at
    ``checkpoint_dir``; with ``available_now`` the query drains the files
    present at start, then stops."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _timeout_conf(state_ttl_ms: int | None):
    """The applyInPandasWithState timeout: processing time when a state
    TTL is set, none otherwise."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if state_ttl_ms is None:
        return GroupStateTimeout.NoTimeout
    return GroupStateTimeout.ProcessingTimeTimeout


def extract_spans_stream(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source streaming extraction: new parquet files landing in
    input_dir are extracted incrementally; the checkpoint makes restarts
    resume exactly where the last trigger stopped.

    Returns the started StreamingQuery (caller awaits termination)."""
    from .pipeline import extract_spans

    sdf = spark.readStream.schema(SPAN_INPUT_SCHEMA).parquet(input_dir)
    return _parquet_sink(
        extract_spans(sdf), output_dir, checkpoint_dir, available_now
    )


def _make_first_seen(state_ttl_ms):
    """The applyInPandasWithState function for first-seen dedup, built
    module-level so the chunk-fold semantics are directly unit-testable
    (tests feed multi-chunk pdf_iters with a fake state)."""
    import pandas as pd

    def first_seen(key, pdf_iter, state):
        _worker_setup()
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()  # evict: the fp may be emitted again later
            return iter(())
        if state.exists:
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)  # refresh TTL
            return iter(())
        # fold the min across ALL Arrow chunks: a fingerprint group
        # larger than one record batch arrives as several pdfs, and the
        # pinned keeper rule is the group-wide min(doc_id)
        first_doc = None
        for pdf in pdf_iter:
            if len(pdf):
                chunk_min = min(pdf["doc_id"])
                if first_doc is None or chunk_min < first_doc:
                    first_doc = chunk_min
        if first_doc is None:
            return iter(())
        state.update((True,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        return iter([pd.DataFrame({"fp": [key[0]], "doc_id": [first_doc]})])

    return first_seen


def _span_text(sep: str):
    """A span doc's texts joined by ``sep`` in offset order (NULL text
    counts as ""): the document text both stream dedup operators key
    on."""
    from pyspark.sql import functions as F

    return F.concat_ws(
        sep,
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


def streaming_dedup_first_seen(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_ttl_ms: int | None = None,
):
    """Custom STATEFUL streaming operator: exactly-first-seen dedup over
    an unbounded span-doc stream, keyed by content fingerprint, via
    applyInPandasWithState. State (one boolean per fingerprint) persists
    in the checkpoint across micro-batches AND restarts, so a document
    whose text was ever emitted is never emitted again.

    ``state_ttl_ms`` bounds state growth on unbounded streams: each
    fingerprint's entry is evicted after that much processing time
    without re-occurrence (ProcessingTimeTimeout; re-occurrence refreshes
    the clock). Dedup semantics soften to first-seen-within-TTL -- the
    standard memory/recall trade for infinite streams. With None
    (default) state never expires (exact first-seen, unbounded state).

    Output rows: (fp, doc_id) of first-seen documents."""
    from pyspark.sql import functions as F

    from .session import ensure_py_files

    ensure_py_files(spark)
    sdf = spark.readStream.schema(SPAN_INPUT_SCHEMA).parquet(input_dir)
    docs = sdf.select("doc_id", F.md5(_span_text("\x00")).alias("fp"))

    return _start_first_seen_stream(
        docs, "fp", output_dir, checkpoint_dir, state_ttl_ms
    )


def _start_first_seen_stream(
    keyed_df, key_out: str, output_dir: str, checkpoint_dir: str,
    state_ttl_ms: int | None,
):
    """Shared stateful-dedup scaffolding (one source of truth for the
    state wiring): ``keyed_df`` must carry (doc_id, fp); the emitted key
    column is renamed to ``key_out``."""
    first_seen = _make_first_seen(state_ttl_ms)
    out = keyed_df.groupBy("fp").applyInPandasWithState(
        first_seen,
        outputStructType="fp string, doc_id string",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=_timeout_conf(state_ttl_ms),
    )
    if key_out != "fp":
        out = out.withColumnRenamed("fp", key_out)
    return _parquet_sink(out, output_dir, checkpoint_dir)


def streaming_url_dedup_first_seen(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_ttl_ms: int | None = None,
):
    """First-seen dedup keyed by CANONICAL URL over an unbounded
    (doc_id, url) stream -- the crawl-frontier form of
    streaming_dedup_first_seen, sharing its _make_first_seen state
    function (same TTL semantics, same group-wide min(doc_id) keeper
    within a micro-batch). The key is url_canonicalize(url)
    (functions/urlfn.py), so messy variants of one resource dedup
    together; rows whose url does not parse get a per-doc sentinel key
    and are never grouped or dropped (the batch url_dedup rule).

    Output rows: (url_key, doc_id)."""
    from pyspark.sql import functions as F

    from .functions.urlfn import url_canonicalize
    from .session import ensure_py_files

    ensure_py_files(spark)
    sdf = spark.readStream.schema("doc_id string, url string").parquet(
        input_dir
    )
    keyed = sdf.select(
        "doc_id",
        F.coalesce(
            url_canonicalize(F.col("url")),
            F.concat(F.lit("\x00nonurl:"), F.col("doc_id")),
        ).alias("fp"),
    )
    return _start_first_seen_stream(
        keyed, "url_key", output_dir, checkpoint_dir, state_ttl_ms
    )


def streaming_event_rollup(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    late: str = "30 minutes",
):
    """Event-time windowed aggregation with a WATERMARK for late data:
    tumbling-window counts/sums per event_type over a file stream of the
    events table. Append mode emits a window only once its watermark
    (max event time - late) has passed -- the batch twin is the
    events_window oracle query."""
    from pyspark.sql import functions as F

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    ev = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        ev.withWatermark("ts", late)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _parquet_sink(agg, output_dir, checkpoint_dir)


def for_each_batch_extract(spark, input_dir: str, handle_batch, checkpoint_dir: str):
    """foreachBatch variant: handle_batch(batch_df, epoch_id) receives the
    extracted span DataFrame per micro-batch (for sinks without a native
    streaming writer, e.g. JDBC or MERGE-style upserts)."""
    from .pipeline import extract_spans

    sdf = spark.readStream.schema(SPAN_INPUT_SCHEMA).parquet(input_dir)

    def _inner(batch_df, epoch_id):
        handle_batch(extract_spans(batch_df), epoch_id)

    return (
        sdf.writeStream.foreachBatch(_inner)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_near_dup_candidates(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    min_est_jaccard: float = 0.6,
    max_bucket_sigs: int = 64,
    state_ttl_ms: int | None = None,
):
    """Custom STATEFUL streaming operator: MinHash-LSH near-duplicate
    detection over an unbounded span-doc stream.

    Stateless stage: assemble text from spans, MinHash-sign it (same
    vectorized path as batch), explode LSH band hashes. Stateful stage:
    applyInPandasWithState keyed by (band, band_hash) keeps the bucket's
    seen signatures; an arriving doc whose signature matches a stored
    one at >= min_est_jaccard (estimated as the fraction of agreeing
    minhash components -- the unbiased Jaccard estimator) emits a
    candidate edge (doc_id, dup_of, est_jaccard), else its signature is
    stored. A doc can surface once per colliding band; downstream batch
    dedup (or dup_clusters) collapses edges, exactly like the batch
    verify-within-buckets flow.

    State is bounded: at most max_bucket_sigs signatures per bucket
    (FIFO eviction -- hot buckets are by definition full of near-dups,
    so evicting the oldest costs little recall) and optional TTL
    eviction like streaming_dedup_first_seen."""
    import pandas as pd

    from .functions.dedup import _band_hashes, minhash_signatures
    from .session import ensure_py_files

    band = _band_hashes(num_hashes, bands)
    if max_bucket_sigs < 1:
        # ids[-0:] is the whole list: 0 would never evict, and a negative
        # value would evict from the wrong end
        raise ValueError(f"max_bucket_sigs={max_bucket_sigs} must be >= 1")
    ensure_py_files(spark)
    sdf = spark.readStream.schema(SPAN_INPUT_SCHEMA).parquet(input_dir)
    docs = sdf.select("doc_id", _span_text("").alias("text"))
    signed = minhash_signatures(docs, "text", "doc_id", num_hashes, 3)
    banded = signed.select("doc_id", "sig", band)

    def bucket_fn(key, pdf_iter, state):
        _worker_setup()
        import numpy as np

        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return iter(())
        ids: list[str] = []
        sigs: list[list[int]] = []
        if state.exists:
            stored_ids, stored_flat = state.get
            ids = list(stored_ids)
            k = num_hashes
            sigs = [list(stored_flat[i * k : (i + 1) * k]) for i in range(len(ids))]
        out_a, out_b, out_j = [], [], []
        for pdf in pdf_iter:
            order = pdf.sort_values("doc_id")
            for doc_id, sig in zip(order["doc_id"], order["sig"]):
                # plain Python ints: state serialization (Pyrolite) does
                # not accept numpy scalars
                sig = [int(v) for v in sig]
                best_j, best_id = 0.0, None
                if sigs:
                    arr = np.asarray(sigs, dtype=np.int64)
                    agree = (arr == np.asarray(sig, dtype=np.int64)).mean(axis=1)
                    bi = int(agree.argmax())
                    best_j, best_id = float(agree[bi]), ids[bi]
                if best_id is not None and best_j >= min_est_jaccard:
                    out_a.append(doc_id)
                    out_b.append(best_id)
                    out_j.append(round(best_j, 4))
                else:
                    ids.append(doc_id)
                    sigs.append(sig)
                    if len(ids) > max_bucket_sigs:
                        ids = ids[-max_bucket_sigs:]
                        sigs = sigs[-max_bucket_sigs:]
        flat = [v for s in sigs for v in s]
        state.update((ids, flat))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if not out_a:
            return iter(())
        return iter(
            [pd.DataFrame({"doc_id": out_a, "dup_of": out_b, "est_jaccard": out_j})]
        )

    out = banded.groupBy("band", "band_hash").applyInPandasWithState(
        bucket_fn,
        outputStructType="doc_id string, dup_of string, est_jaccard double",
        stateStructType="ids array<string>, flat_sigs array<long>",
        outputMode="append",
        timeoutConf=_timeout_conf(state_ttl_ms),
    )
    return _parquet_sink(out, output_dir, checkpoint_dir)
