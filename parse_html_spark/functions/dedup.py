"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (100 TB target):
- exact dedup is a single hash-aggregate on md5(text) -- map-side partial
  aggregation, one shuffle on the 16-byte digest, no text movement;
- MinHash LSH shuffles only (band_id, band_hash, doc_id) tuples -- the
  band join is an equi-join on a short key, never a cross join;
- candidate pairs are verified with exact Jaccard only within buckets.
All hashing is deterministic (md5/crc32 with fixed seeds) so results are
stable across runs, partitionings and cluster sizes.
"""

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import _worker_setup
from .textfn import fingerprint

# ASCII-whitespace tokenizer shared by every PYTHON-side text split in
# this module: Python's str.split() splits on UNICODE whitespace
# (U+00A0, U+2009, ...) while the JVM column twins (F.split r"\s+",
# Java regex) and the DuckDB oracles (RE2 \s) are ASCII-only -- on a
# non-ASCII-whitespace corpus the Python minhash banding and the JVM
# verify/oracle stages would disagree on token boundaries. re.ASCII
# pins \s to [ \t\n\r\f\v], matching the JVM set.
_WS_ASCII = re.compile(r"\s+", re.ASCII)


def _ascii_tokens(text: str) -> list[str]:
    return [t for t in _WS_ASCII.split(text) if t]


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) docs: (fp, n_docs, keeper).
    keeper = min id; only groups with n_docs > 1."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct normalized text (min id wins).

    Shape: aggregate keepers (map-side partial min over (fp, id) -- only
    16-byte digests and ids cross the exchange), then join back on the
    digest. When the keeper side fits the broadcast threshold (high-dup
    corpora), AQE broadcasts it and the document rows never shuffle at
    all; worst case it degrades to the same one-shuffle cost a window
    would pay, minus the per-partition sort.

    NULL text rows form their own group (sentinel digest -- md5 output
    is never ''), so they dedup to one survivor instead of vanishing in
    the NULL-key equi-join. Precondition: ``id_col`` is unique (a
    duplicated minimum id would tie and keep both rows)."""
    withfp = df.withColumn(
        "_fp", F.coalesce(fingerprint(F.col(text_col)), F.lit(""))
    )
    keepers = withfp.groupBy("_fp").agg(F.min(id_col).alias("_keeper"))
    return (
        withfp.join(keepers, "_fp")
        .filter(F.col(id_col) == F.col("_keeper"))
        .drop("_fp", "_keeper")
    )


# -- MinHash + LSH ---------------------------------------------------------

_MH_PRIME = (1 << 31) - 1  # Mersenne: a*h < 2^62 stays in int64


def _mh_coeffs(num_hashes: int):
    import numpy as np

    rng = np.random.RandomState(42)
    a = rng.randint(1, _MH_PRIME, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MH_PRIME, size=num_hashes, dtype=np.int64)
    return a, b


def _minhash_sigs(texts, coeffs, shingle_words: int) -> list[list[int]]:
    """MinHash signatures of a batch of texts (None signs as ""): crc32
    per distinct word-shingle, then ALL docs' shingle hashes concatenate
    into ONE (num_hashes x total) universal-hash product ((a*h+b) mod p)
    with a segmented min -- no per-doc numpy dispatch (round 8 measured
    ~15us/doc for a per-doc outer product). Docs shorter than
    ``shingle_words`` tokens collapse to one joined-token shingle, an
    empty doc to the single shingle ""."""
    import numpy as np

    a, b = coeffs
    hs: list[np.ndarray] = []
    offsets = [0]
    for t in texts:
        toks = _ascii_tokens((t or "").lower())
        if len(toks) < shingle_words:
            shingles = {" ".join(toks)} if toks else {""}
        else:
            shingles = {
                " ".join(toks[i : i + shingle_words])
                for i in range(len(toks) - shingle_words + 1)
            }
        hs.append(
            np.fromiter(
                (zlib.crc32(s.encode("utf-8")) for s in shingles),
                dtype=np.int64,
                count=len(shingles),
            )
        )
        offsets.append(offsets[-1] + len(shingles))
    if not hs:
        return []
    hm = np.concatenate(hs) % _MH_PRIME
    perm = (a[:, None] * hm[None, :] + b[:, None]) % _MH_PRIME
    return np.minimum.reduceat(perm, offsets[:-1], axis=1).T.tolist()


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_words: int = 3,
) -> DataFrame:
    """(id, sig: array<long>) via an Arrow-batched pandas UDF. The
    permutation coefficients are generated ONCE on the driver and
    closure-captured (not per document)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..pipeline import fan_out_small

    coeffs = _mh_coeffs(num_hashes)

    def _sig(texts: pd.Series) -> pd.Series:
        _worker_setup()
        return pd.Series(_minhash_sigs(texts, coeffs, shingle_words), dtype=object)

    sig_udf = pandas_udf(_sig, "array<long>")

    # the sig stage is compute-bound: spread a small input (guide 2.5)
    return fan_out_small(df).select(
        F.col(id_col), sig_udf(F.col(text_col)).alias("sig")
    )


def _checkpoint_batch(df: DataFrame, name: str) -> DataFrame:
    """``df.localCheckpoint()`` for the self-join operators, which
    materialize their key rows once so both join sides stop re-running
    the subtree. A streaming frame cannot be checkpointed; Spark would
    fail with an AnalysisException from deep inside the operator, so
    name it (``name``) and point to the streaming operators instead."""
    if df.isStreaming:
        raise ValueError(
            f"{name} needs a batch DataFrame: it materializes its rows "
            "with localCheckpoint(), which a streaming DataFrame cannot "
            "do. For streams use parse_html_spark.streaming "
            "(streaming_near_dup_candidates for near-duplicates, "
            "streaming_dedup_first_seen / streaming_url_dedup_first_seen "
            f"for exact duplicates), or call {name} on each "
            "micro-batch inside foreachBatch."
        )
    return df.localCheckpoint()


def _check_cap(name: str, cap: int | None) -> None:
    """A pair needs two rows in one bucket (or two documents sharing one
    token), so a cap below 2 would drop every pair -- and only after a
    checkpoint job had run. Accept None (uncapped) or a value >= 2."""
    if cap is not None and cap < 2:
        raise ValueError(f"{name}={cap} must be None or >= 2")


def _bucket_pairs(
    banded: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket: int | None,
    name: str,
    where=None,
    extra=(),
) -> DataFrame:
    """The blocking kernel every near-duplicate candidate operator runs
    (SparkER-style: blocking keys -> block purging -> self-join within
    blocks): distinct (id_a, id_b, *extra) pairs, id_a < id_b, of the
    ``banded`` rows that share all of ``keys``. An operator supplies
    only its banded rows; the cap, checkpoint and join policy live here.

    1. Block purging (``max_bucket``, None disables): buckets holding
       more than ``max_bucket`` rows are dropped BEFORE the self-join.
       A bucket of k rows contributes k^2/2 join rows, so one mega-bucket
       (billions of near-empty or same-template docs all hashing
       together) is a de-facto cross join. Oversized buckets are
       overwhelmingly exact-duplicate clusters, which belong to
       dedup_exact, not the near-dup path. Mirrors token_jaccard_pairs'
       max_df guard and the streaming operator's max_bucket_sigs bound.
       The cap is a WINDOW count over the bucket keys rather than an
       aggregate + anti-join: the anti-join form would evaluate the
       ``banded`` subtree -- whose signature computation (pandas-UDF
       minhash / simhash / hyperplane dot products) is the dominant cost
       -- a third time for the count; the window rides the one exchange
       its own partitioning needs and adds no extra pass.
       The pruning is lossy and would otherwise be SILENT: use the
       operators' `*_hot_buckets` audit twins (hot_bucket_report) to see
       exactly which buckets a given corpus would lose. An inline
       Observation metric was tried and rejected: a CollectMetrics node
       on the subtree both sides of the self-join reference is
       plan-dependent in Spark (works on some shapes, toPyRow assertion
       on others).
    2. Materialize once (_checkpoint_batch): the planner broadcasts one
       join side, so without it both sides re-run the signature UDF
       subtree (round-8 plan audit: two ArrowEvalPython nodes). The
       checkpoint holds only the short key rows (~24-32 bytes per doc
       per band), executor-local -- far cheaper than signing every
       document twice at corpus scale.
    3. Self-join on ``keys`` with ``a.id < b.id``: an equi-join on short
       keys, never a cross join.
    4. ``where`` (a Column over the ``a.``/``b.`` sides) filters BEFORE
       the distinct, so only surviving pairs pay the dedup exchange;
       ``extra`` columns are selected after id_a, id_b."""
    _check_cap("max_bucket", max_bucket)
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys)
        banded = (
            banded.withColumn("_bucket_n", F.count("*").over(w))
            .filter(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    banded = _checkpoint_batch(banded, name)
    a, b = banded.alias("a"), banded.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    joined = a.join(b, on + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
    if where is not None:
        joined = joined.filter(where)
    return joined.select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), *extra
    ).distinct()


def _band_hashes(num_hashes: int, bands: int):
    """posexplode of the ``sig`` column into (band, band_hash) rows: one
    hash per band of num_hashes // bands consecutive minhash components.
    ``bands`` must lie in 1..num_hashes: more bands than hashes would
    hash empty slices, so every document would collide with every other
    in every band (and a max_bucket cap would then drop them all)."""
    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"bands={bands} must be between 1 and num_hashes={num_hashes}"
        )
    r = num_hashes // bands
    return F.posexplode(
        F.array(*[F.hash(F.slice("sig", b * r + 1, r)) for b in range(bands)])
    ).alias("band", "band_hash")


def _minhash_banded(
    df, text_col, id_col, num_hashes, bands, shingle_words
) -> DataFrame:
    """(id, band, band_hash) rows: one per document per LSH band."""
    band = _band_hashes(num_hashes, bands)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_words)
    return sigs.select(F.col(id_col), band)


def hot_bucket_report(banded: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """AUDIT twin of _bucket_pairs' cap: the buckets a given ``max_bucket``
    would silently drop, with their sizes. Lossy pruning should be
    OBSERVABLE: run this (one extra pass, opt-in -- an inline metric on
    the self-joined subtree is not plan-stable, see _bucket_pairs)
    on a corpus sample whenever a capped operator's recall matters."""
    return (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
    )


def minhash_hot_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    max_bucket: int = 8192,
) -> DataFrame:
    """(band, band_hash, bucket_n) of the buckets minhash_lsh_pairs'
    default cap would drop for this corpus."""
    return hot_bucket_report(
        _minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_words),
        ["band", "band_hash"],
        max_bucket,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that collide in at
    least one LSH band. Shuffles only band keys, not text.
    minhash_hot_buckets() reports what a given max_bucket would drop.

    SCALE GUARD (ON BY DEFAULT): band buckets larger than ``max_bucket``
    are dropped before the self-join (see _bucket_pairs) -- bounding
    any single bucket's join contribution to max_bucket^2/2 rows. Run
    dedup_exact first so identical-text clusters (the usual mega-bucket
    cause) never reach this operator; pass an explicit max_bucket=None
    for the uncapped exact candidate set on small corpora."""
    return _bucket_pairs(
        _minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_words),
        ["band", "band_hash"],
        id_col,
        max_bucket,
        "minhash_lsh_pairs",
    )


# -- SimHash ---------------------------------------------------------------

def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash: long) -- 64-bit SimHash over whitespace tokens.

    Token hash = little-endian uint64 of the first 8 md5 bytes, which is
    exactly DuckDB's ``md5_number_upper`` -- making the WHOLE algorithm
    ANSI-SQL-expressible for oracle checking (bit b of the signature is
    sign(sum over tokens of ±1 by (hash >> (63-b)) & 1)).

    Vectorized per Arrow batch: each UNIQUE token is hashed once (with a
    worker-local cache across batches), the ±1 bit matrix is built by
    one ``np.unpackbits``, and per-document accumulation is a single
    ``np.add.reduceat`` over the batch -- no per-token Python loop in
    the steady state."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    hash_cache: dict[str, int] = {}

    def _batch(texts: pd.Series) -> pd.Series:
        _worker_setup()
        # ASCII split: must match the DuckDB oracle's RE2 \s+ tokenizer
        tok_lists = [_ascii_tokens((t or "").lower()) for t in texts]
        lens = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64, count=len(tok_lists))
        total = int(lens.sum())
        if total == 0:
            return pd.Series(np.zeros(len(texts), dtype=np.int64))
        flat = np.empty(total, dtype=object)
        pos = 0
        for tl in tok_lists:
            flat[pos : pos + len(tl)] = tl
            pos += len(tl)
        uniq, inv = np.unique(flat, return_inverse=True)
        # bound worker memory: ~256k entries is a few tens of MB and
        # keeps the steady-state vocabulary hot; 32 local workers each
        # hold their own cache, so a big cap multiplies by parallelism
        if len(hash_cache) > 262_144:
            hash_cache.clear()
        hs = np.empty(len(uniq), dtype=np.uint64)
        get = hash_cache.get
        for k, tkn in enumerate(uniq):
            h = get(tkn)
            if h is None:
                h = int.from_bytes(
                    hashlib.md5(tkn.encode("utf-8")).digest()[:8], "little"
                )
                hash_cache[tkn] = h
            hs[k] = h
        # (n_uniq, 64) sign matrix, bit 0 = MSB of the 64-bit hash
        be_bytes = hs[:, None].astype(">u8").view(np.uint8).reshape(-1, 8)
        signs = np.unpackbits(be_bytes, axis=1).astype(np.int32) * 2 - 1
        tok_signs = signs[inv]
        starts = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        nonempty = lens > 0
        # reduceat over NON-EMPTY docs only: their start offsets are
        # strictly increasing and consecutive segments contain exactly
        # their own tokens (empty docs contribute none). Clamping empty
        # docs' offsets instead would SPLIT the preceding document's
        # segment and corrupt its signature.
        acc = np.zeros((len(texts), 64), dtype=np.int64)
        if nonempty.any():
            acc[nonempty] = np.add.reduceat(
                tok_signs, starts[nonempty], axis=0
            )
        packed = np.packbits(acc > 0, axis=1)
        out = packed.view(">u8").reshape(-1).astype(np.uint64).view(np.int64)
        return pd.Series(out)

    sim_udf = pandas_udf(_batch, "long")

    from ..pipeline import fan_out_small

    return fan_out_small(df).select(
        F.col(id_col), sim_udf(F.col(text_col)).alias("simhash")
    )


def _simhash_chunked(df, text_col, id_col, max_hamming) -> DataFrame:
    """(id, simhash, chunk, chunk_val) rows: one per doc per band chunk
    (n_chunks = max(4, max_hamming + 1), pigeonhole-lossless)."""
    n_chunks = max(4, max_hamming + 1)
    w = 64 // n_chunks
    widths = [w] * (n_chunks - 1) + [64 - w * (n_chunks - 1)]
    offs = [k * w for k in range(n_chunks)]
    sh = simhash64(df, text_col, id_col)
    return sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", offs[k]).bitwiseAND(
                        F.lit((1 << widths[k]) - 1 if widths[k] < 64 else -1)
                    )
                    for k in range(n_chunks)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )


def simhash_hot_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 8192,
) -> DataFrame:
    """(chunk, chunk_val, bucket_n) of the chunk buckets
    simhash_near_pairs' default cap would drop for this corpus."""
    return hot_bucket_report(
        _simhash_chunked(df, text_col, id_col, max_hamming),
        ["chunk", "chunk_val"],
        max_bucket,
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.
    simhash_hot_buckets() reports what a given max_bucket would drop.

    Banding is LOSSLESS by pigeonhole: the 64 bits are cut into
    n_chunks = max(4, max_hamming + 1) chunks, so a pair within distance
    max_hamming cannot differ in every chunk and MUST collide on at
    least one -- the output is therefore exactly ALL pairs within the
    Hamming radius (oracle-checkable), while shuffling only short
    (chunk, value, id) keys, never a cross join.

    SCALE GUARD (ON BY DEFAULT): chunk buckets above ``max_bucket``
    rows are dropped before the self-join (a mega-bucket of k
    same-signature docs is k^2/2 join rows -- see _bucket_pairs).
    Under the cap the pigeonhole exactness holds only for pairs whose
    shared chunks all fit the cap; identical-text clusters belong to
    dedup_exact upstream. Explicit max_bucket=None restores the
    unconditionally lossless (unbounded) form."""
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return _bucket_pairs(
        _simhash_chunked(df, text_col, id_col, max_hamming),
        ["chunk", "chunk_val"],
        id_col,
        max_bucket,
        "simhash_near_pairs",
        where=hamming <= max_hamming,
        extra=(hamming.cast("int").alias("hamming"),),
    )


# -- n-gram Jaccard (ANSI-SQL expressible) ----------------------------------

def _distinct_doc_tokens(df, text_col, id_col) -> DataFrame:
    """(id, tok) rows: one per distinct non-empty lowercase token per
    document -- tokens_col is the single pinned tokenization, so the
    exact-Jaccard join, its max_df cap and the hot_tokens audit cannot
    drift apart."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )


def hot_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 1000,
) -> DataFrame:
    """(tok, df_count) of the tokens token_jaccard_pairs' default
    max_df cap would drop for this corpus -- the token-join audit twin
    of the LSH operators' *_hot_buckets reports."""
    return (
        _distinct_doc_tokens(df, text_col, id_col)
        .groupBy("tok")
        .agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") > max_df)
    )


def token_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact distinct-token-set Jaccard for all pairs sharing >= 1 token.
    Pure relational form (explode + equi-join + group) -- identical
    semantics in any SQL engine; the DuckDB oracle runs the same query.

    SCALE GUARD (ON BY DEFAULT): the token equi-join is quadratic in
    per-token document frequency (a token in k docs yields k^2/2 join
    rows -- 'the' on a web corpus is a de-facto cross join). ``max_df``
    drops tokens whose document frequency exceeds the cap BEFORE the
    join (from both the common counts and the set sizes), bounding every
    token's join contribution to max_df^2/2 rows. Stop-word-frequency
    tokens carry no similarity signal, so the default cap of 1000
    changes near-dup pairs negligibly while removing the quadratic
    blowup; pass an EXPLICIT ``max_df=None`` to opt into the uncapped
    exact join (only sane on small, known corpora). For corpus-scale
    near-dup detection prefer minhash_near_duplicates(), which only ever
    computes exact Jaccard within LSH candidate buckets."""
    _check_cap("max_df", max_df)
    toks = _distinct_doc_tokens(df, text_col, id_col)
    if max_df is not None:
        # the audit twin IS the cap computation -- one definition
        hot = hot_tokens(df, text_col, id_col, max_df).select("tok")
        # hot-token list is tiny by construction -> broadcast anti-join
        toks = toks.join(F.broadcast(hot), "tok", "left_anti")
    # three consumers (both join sides + sizes) would each re-run the
    # scan + tokenize + explode + distinct subtree; materialize the
    # (tok, id) rows once (round-8)
    toks = _checkpoint_batch(toks, "token_jaccard_pairs")
    sizes = toks.groupBy("id").agg(F.count("*").alias("n_tok"))
    a, b = toks.alias("a"), toks.alias("b")
    common = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_tok").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


# -- verify-within-buckets (exact Jaccard on candidate pairs only) ----------

def tokens_col(text_col):
    """Distinct whitespace tokens of lower(trim(text)) as array<string>
    (empty-string tokens removed) -- pure Column expr, JVM-side."""
    return F.array_distinct(
        F.filter(
            F.split(F.trim(F.lower(text_col)), r"\s+"), lambda t: t != ""
        )
    )


def shingles_col(text_col, shingle_words: int = 3):
    """Distinct word-shingles as array<string>, matching _minhash_sigs'
    shingling exactly (docs shorter than shingle_words collapse to the
    single joined-token shingle). Pure Column exprs, no Python.

    MEGA-DOC SAFE: the window array is built by zipping k PRE-SLICED
    copies of the token array, so tokenization is evaluated O(k) times
    PER ROW. The obvious alternative -- transform(sequence(1, n-k+1),
    i -> array_join(slice(toks, i, k))) -- embeds the `toks` expression
    inside the per-element lambda, and higher-order functions are
    interpreted (no codegen/CSE): the document would be re-tokenized
    once per shingle position, O(n * doc_len) -- measured ~17 minutes
    for ONE 500k-char document vs milliseconds for this form."""
    toks = F.filter(
        F.split(F.trim(F.lower(text_col)), r"\s+"), lambda t: t != ""
    )
    k = shingle_words
    joined = F.array_join(toks, " ")
    n_win = F.size(toks) - (k - 1)
    win = F.slice(toks, 1, n_win)
    for j in range(1, k):
        win = F.zip_with(
            win,
            F.slice(toks, j + 1, n_win),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) < k, F.array(joined)).otherwise(
        F.array_distinct(win)
    )


def chunk_col(text_col, k: int = 20):
    """Non-overlapping k-token chunks as array<string> (the RefinedWeb/
    FineWeb exact-substring dedup unit): lower(trim(text)) whitespace
    tokens, full windows only -- docs shorter than k tokens produce an
    empty array.

    ONE codegen'd regex pass: the text is whitespace-normalized once,
    then regexp_extract_all's left-to-right non-overlapping scan of
    k space-separated tokens IS the disjoint windowing (the partial
    tail never matches). The zip_with windowing form (shingles_col)
    would evaluate the tokenization under 2k interpreted higher-order
    operands per row -- review r7; at k=20 that is ~40 regex splits of
    the whole document per row vs one here."""
    norm = F.regexp_replace(F.lower(text_col), r"\s+", " ")
    return F.regexp_extract_all(
        norm, F.lit(r"\S+(?: \S+){%d}" % (k - 1)), 0
    )


def chunk_dup_stats(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication census: per document, how many of
    its k-token chunks occur >= 2 times corpus-wide (any doc, any
    position -- within-doc repetition counts too).

    Shape at 100 TB: one explode -> one map-side-combined hash agg per
    chunk -> an equi-join of occurrences to the one-row-per-chunk count
    table (hot chunks skew only the probe side; AQE handles it) -> one
    groupBy(id). Documents with no full chunk stay in the output with
    zeros (explode_outer + left join).

    Output: (id, n_chunks, n_dup_chunks, dup_ratio)."""
    occ = df.select(
        F.col(id_col),
        F.explode_outer(chunk_col(F.col(text_col), k)).alias("chunk"),
    )
    # occ feeds BOTH the count aggregate and the probe side; the two
    # subtrees differ (isNotNull filter), so no exchange reuse -- without
    # this the corpus is scanned and regex-chunked twice (round-8).
    # Checkpoint size == the chunk rows the exchanges move anyway. The
    # JOIN shape itself is deliberate: a window count per chunk would be
    # one pass but puts a hot chunk (boilerplate in 30% of docs) into
    # ONE task -- AQE skew handling applies to joins only (guide 2.5).
    occ = _checkpoint_batch(occ, "chunk_dup_stats")
    counts = (
        occ.filter(F.col("chunk").isNotNull())
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    joined = occ.join(counts, "chunk", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("chunk").cast("bigint").alias("n_chunks"),
            F.sum(
                F.when(F.col("_c") >= 2, 1).otherwise(0)
            ).cast("bigint").alias("n_dup_chunks"),
        )
        .select(
            F.col(id_col),
            "n_chunks",
            "n_dup_chunks",
            F.round(
                F.col("n_dup_chunks")
                / F.greatest(F.col("n_chunks"), F.lit(1)),
                4,
            ).alias("dup_ratio"),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination census (the GPT-3/Gopher training-set
    hygiene step): per training document, how many of its DISTINCT
    k-token shingles appear in ANY benchmark document.

    Shape at 100 TB: benchmark sets are eval suites (KBs-to-MBs), so
    their distinct-shingle table BROADCASTS and the training side is
    one explode + broadcast semi-join + one groupBy -- the corpus
    never shuffles on text. Shingling is shingles_col's (same stride-1
    windows MinHash uses, short docs collapse to one whole-doc
    shingle), so a doc that would MinHash-match a benchmark doc also
    overlaps here.

    Output: (id, n_hits, contaminated) -- one row per input doc,
    contaminated = any shared shingle. To DROP contaminated rows, use
    filter_contaminated -- it anti-joins the internal hit aggregate
    directly instead of round-tripping this census (one corpus scan
    fewer)."""
    hits = _contamination_hits(df, benchmark, k, text_col, id_col)
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_n", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("_n", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _contamination_hits(df, benchmark, k, text_col, id_col):
    """(id, _n) for docs sharing >= 1 shingle with the benchmark."""
    bench_sh = (
        benchmark.select(
            F.explode(shingles_col(F.col(text_col), k)).alias("sh")
        ).distinct()
    )
    tr_sh = df.select(
        F.col(id_col),
        F.explode(shingles_col(F.col(text_col), k)).alias("sh"),
    )
    return (
        tr_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )


def filter_contaminated(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """df minus every benchmark-overlapping document: one anti join
    against the hit aggregate (whose cardinality is the contaminated
    doc count, not the corpus), skipping decontaminate's corpus-wide
    zero-fill census join entirely (review r7)."""
    hits = _contamination_hits(df, benchmark, k, text_col, id_col)
    return df.join(hits.select(id_col), id_col, "left_anti")


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int | None = None,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """EXACT Jaccard computed ONLY for the given candidate pairs
    (id_a, id_b) -- the verify-within-buckets stage of LSH dedup.

    Feature sets are distinct tokens (shingle_words=None) or distinct
    word-shingles (matching MinHash's shingling). The candidate set is
    tiny relative to the corpus, so the two id equi-joins move feature
    arrays only for documents that appear in some pair; nothing is ever
    all-pairs. Output: (id_a, id_b, jaccard) with jaccard rounded to 4
    places and filtered to >= min_jaccard."""
    feats = (
        shingles_col(F.col(text_col), shingle_words)
        if shingle_words
        else tokens_col(F.col(text_col))
    )
    t = df.select(F.col(id_col).alias("_vid"), feats.alias("_f"))
    a = t.select(F.col("_vid").alias("id_a"), F.col("_f").alias("_fa"))
    b = t.select(F.col("_vid").alias("id_b"), F.col("_f").alias("_fb"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    c = F.size(F.array_intersect("_fa", "_fb"))
    na, nb = F.size("_fa"), F.size("_fb")
    jac = F.round(c / (na + nb - c), 4)
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= min_jaccard
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    shingle_words: int = 3,
    min_jaccard: float = 0.6,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """MinHash-LSH candidates VERIFIED by exact shingle Jaccard -- the
    production near-dup operator: banding bounds candidate generation
    (short-key equi-join, never all-pairs), and exact Jaccard is computed
    only within buckets, so false-positive collisions never survive.

    With r = num_hashes/bands rows per band, a pair at Jaccard J is
    missed with probability (1 - J^r)^bands -- the 64/32 default gives
    r=2, so J=0.6 pairs are caught w.p. 1-(1-0.36)^32 > 1 - 1e-6.
    Output: (id_a, id_b, jaccard >= min_jaccard)."""
    cand = minhash_lsh_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_words=shingle_words,
        max_bucket=max_bucket,
    )
    return jaccard_verify_pairs(
        df,
        cand,
        text_col=text_col,
        id_col=id_col,
        shingle_words=shingle_words,
        min_jaccard=min_jaccard,
    )


def dedup_lines_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 15,
) -> DataFrame:
    """C4-style cross-document line deduplication (Raffel et al. 2020
    §2.2 dedups three-sentence spans; the line variant is the common
    production form): every distinct line of at least ``min_chars``
    characters is kept ONLY at its first occurrence corpus-wide --
    the smallest (id, position) -- and dropped everywhere else,
    including repeats inside the same document. Shorter lines
    (headings, separators) bypass dedup and are always kept.

    Scale shape: posexplode -> groupBy(line) min-struct winner
    (map-side combined, so a line repeated a million times arrives at
    the reducer once per input partition) -> inner join of occurrences
    to winners on the FULL (line, id, pos) triple, which is unique on
    both sides -- no hot join key no matter how skewed the line
    frequencies are -- then one groupBy(id) to reassemble documents in
    original line order. Documents whose every line was dropped stay
    in the output with empty text (left join against the input ids).

    Output: (id, text_dedup, n_kept, n_dropped) -- n_* count lines.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("pos", "line"),
    )
    # three consumers (winner agg, join probe, short-line union) would
    # each re-scan and re-split the corpus; materialize the line rows
    # once (round-8). Join/agg shapes unchanged -- the unique
    # (line, id, pos) join key skew argument is untouched.
    lines = _checkpoint_batch(lines, "dedup_lines_global")
    big = lines.filter(F.length("line") >= min_chars)
    winners = big.groupBy("line").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w")
    )
    kept_big = big.join(
        winners.select(
            "line",
            F.col(f"w.{id_col}").alias(id_col),
            F.col("w.pos").alias("pos"),
        ),
        ["line", id_col, "pos"],
    )
    kept = kept_big.select(id_col, "pos", "line").unionByName(
        lines.filter(F.length("line") < min_chars)
        .select(id_col, "pos", "line")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            # .getField on array<struct> is a codegen'd
            # GetArrayStructFields -- the transform(..., x -> x["line"])
            # form it replaces was an INTERPRETED lambda per line
            # (round-8 stage isolation: the rebuild groupBy was the
            # largest stage of this operator)
            F.array_sort(
                F.collect_list(F.struct("pos", "line"))
            ).getField("line"),
        ).alias("text_dedup"),
    )
    # totals from the INPUT df, not the exploded lines: split(NULL)
    # explodes to zero rows, which silently dropped NULL-text documents
    # from the output entirely (review r7). NULL text stays a row with
    # empty dedup text and zero counts.
    totals = df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(F.split(F.col(text_col), r"\n")))
        .alias("n_lines"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )
