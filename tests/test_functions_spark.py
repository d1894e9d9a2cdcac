"""Corpus-operator tests: dedup, similarity, text analysis, media stubs."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog tail"),  # near dup
        (4, "completely different content about spark engines"),
        (5, "der hund und die katze ist das haus"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    from parse_html_spark.functions.dedup import dedup_exact, exact_duplicates

    dups = exact_duplicates(docs).collect()
    assert len(dups) == 1
    assert dups[0]["n_docs"] == 2 and dups[0]["keeper"] == 1
    kept = dedup_exact(docs)
    assert kept.count() == 5
    assert kept.filter(F.col("doc_id") == 2).count() == 0


def test_minhash_finds_near_dup(spark, docs):
    from parse_html_spark.functions.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    assert (1, 2) in pairs  # identical
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares bands
    assert (1, 4) not in pairs  # unrelated


def test_simhash_near_pairs(spark, docs):
    from parse_html_spark.functions.dedup import simhash64, simhash_near_pairs

    sh = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert sh[1] == sh[2]
    assert sh[6] == 0
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=10).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs


def test_token_jaccard(spark, docs):
    from parse_html_spark.functions.dedup import token_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in token_jaccard_pairs(docs, min_jaccard=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.8 < pairs[(1, 3)] < 1.0


def test_cosine_topk(spark):
    from parse_html_spark.functions.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = cosine_topk(df, [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 1, 4]
    assert top[0]["cosine"] == 1.0
    # LSH variant finds the same top-1 (query bucket contains it)
    lsh = lsh_cosine_topk(df, [1.0, 0.0, 0.0], k=1, bits=2)
    assert lsh.collect()[0]["vec_id"] == 0


def test_ivf_topk(spark):
    from parse_html_spark.functions.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [3.0, 1.0, 1.0]
    exact = [r["vec_id"] for r in cosine_topk(df, q, k=3).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_cosine_topk(df, q, k=3, n_cells=4, n_probe=4).collect()
    ]
    # probing ALL cells must equal exact brute force
    assert approx == exact


def test_ivf_trained_centroids_improve_single_probe_recall(spark):
    """Spherical k-means quantizer (ivf_train_centroids) must beat the
    seeded-random one on single-probe candidate recall@10 over the
    sf0.1 embeddings. Everything is seeded/deterministic, so the margin
    is a fixed number, not a flaky statistic (measured ~+0.07)."""
    import numpy as np

    from parse_html_spark.functions.similarity import (
        _random_centroids,
        ivf_train_centroids,
    )

    df = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    C_t = ivf_train_centroids(df, 64, n_cells=8, seed=42)
    V = np.asarray(
        [r["embedding"] for r in df.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)

    def recall_1probe(C, nq=50, K=10):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        assign = np.argmax(Vn @ Cn.T, axis=1)
        hits = 0
        for q in range(nq):
            sims = Vn @ Vn[q]
            truth = np.argsort(-sims)[:K]
            cand = np.where(assign == np.argmax(Cn @ Vn[q]))[0]
            got = cand[np.argsort(-sims[cand])[:K]]
            hits += len(set(truth) & set(got))
        return hits / (nq * K)

    r_rand = recall_1probe(_random_centroids(64, 8, 42))
    r_train = recall_1probe(C_t)
    assert r_train > r_rand + 0.02, (r_rand, r_train)


def test_textfn_on_real_table(spark):
    from parse_html_spark.functions.textfn import (
        fingerprint,
        lang_id,
        quality_score,
        token_count,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = df.select(
        token_count(F.col("text")),
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang_pred"),
        fingerprint(F.col("text")).alias("fp"),
    ).toPandas()
    assert (out["token_count"] > 0).all()
    assert out["q"].between(0, 1).all()
    assert set(out["lang_pred"]) <= {"en", "de", "fr", "es", "und"}
    assert out["fp"].str.len().eq(32).all()


def test_gopher_filter_each_rule(spark):
    """Every Gopher/C4 rule branch fires on a hand-crafted doc and the
    counters behind it are exact (public-paper rules: Rae et al. 2021
    Table A1, Raffel et al. 2020 §2.2)."""
    from parse_html_spark.functions.textfn import (
        gopher_filter,
        repetition_metrics,
    )

    good = (
        "the quick brown fox jumps over a lazy dog on the mat\n"
        "another line full of plain readable words is here\n\n"
        "second paragraph with more of the usual text in it"
    )
    cases = [
        ("good", good, True, "keep"),
        ("short", "the cat sat on a mat", False, "too_few_tokens"),
        ("long", "the of " + "word " * 100001, False, "too_many_tokens"),
        (
            "tiny_tokens",
            "a b c d e f g h i j k l m n o p q r s t the of",
            False,
            "bad_mean_token_len",
        ),
        (
            "huge_tokens",
            "the anticonstitutionnellement " + "incomprehensibilities " * 10,
            False,
            "bad_mean_token_len",
        ),
        (
            "symbols",
            "the of ### stuff ### tagged ### words ### here ###",
            False,
            "symbol_ratio",
        ),
        (
            "bullets",
            "- the first item here\n- a second item now\n- third thing too",
            False,
            "bullet_lines",
        ),
        (
            "ellipses",
            "the story trails off...\nand keeps trailing on and on...\n"
            "a third trailing line of it…\nonly one plain line here",
            False,
            "ellipsis_lines",
        ),
        (
            "dup_lines",
            "the same line of words here\nthe same line of words here\n"
            "the same line of words here\na different one with it\n"
            "another different line too\nlast unique line of all",
            False,
            "dup_lines",
        ),
        (
            # the duplicated paragraph is ONE line amid a long unique
            # paragraph: paragraph dup fraction 2/3 trips while the
            # line dup fraction stays 1/10 (identical paragraphs
            # always duplicate lines, so the ratios must be decoupled)
            "dup_paras",
            "the repeated tiny paragraph\n\n"
            "the first long paragraph has many lines in it\n"
            "a second line of the long paragraph follows\n"
            "a third line keeps the line count growing\n"
            "a fourth line keeps it growing more\n"
            "a fifth line of plain words sits here\n"
            "a sixth line of plain words sits here too\n"
            "a seventh line nearly finishes the block\n"
            "an eighth line finishes the block of text\n\n"
            "the repeated tiny paragraph",
            False,
            "dup_paras",
        ),
        (
            "no_stopwords",
            "lorem ipsum dolor sit amet consectetur adipiscing elit sed "
            "eiusmod tempor incididunt labore dolore",
            False,
            "too_few_stopwords",
        ),
    ]
    df = spark.createDataFrame(
        [(n, t) for n, t, _, _ in cases], "name string, text string"
    )
    rows = {
        r["name"]: r
        for r in df.select(
            "name", gopher_filter(F.col("text")).alias("v")
        ).collect()
    }
    for name, _, keep, reason in cases:
        assert rows[name]["v"]["keep"] == keep, (name, rows[name]["v"])
        assert rows[name]["v"]["reason"] == reason, (name, rows[name]["v"])

    # counter exactness on a structured page
    page = "alpha one\nalpha one\n- item\ntail...\n\npara\n\npara"
    m = (
        spark.createDataFrame([(page,)], "text string")
        .select(repetition_metrics(F.col("text")).alias("m"))
        .head()["m"]
    )
    assert m["n_lines"] == 6 and m["dup_lines"] == 2
    assert m["n_paras"] == 3 and m["dup_paras"] == 1
    assert m["bullet_lines"] == 1 and m["ellipsis_lines"] == 1


def test_top_token_counts_and_plan(spark):
    """top_token: exact argmax + totals, largest-token tie-break, and
    ONE shuffle exchange (the two windows share the doc-key
    partitioning)."""
    from parse_html_spark.functions.textfn import top_token

    df = spark.createDataFrame(
        [
            (1, "the cat the dog the bird and cat"),
            (2, "b a b a"),  # tie 2-2 -> larger token 'b' wins
            (3, "Single"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in top_token(df).collect()}
    assert rows[1]["top_tok"] == "the" and rows[1]["top_count"] == 3
    assert rows[1]["n_tokens"] == 8
    assert rows[2]["top_tok"] == "b" and rows[2]["top_count"] == 2
    assert rows[3]["top_tok"] == "single" and rows[3]["top_frac"] == 1.0
    plan = top_token(df)._jdf.queryExecution().executedPlan().toString()
    # both aggs map-side combined: the first exchange carries
    # partial-counted (doc, token) rows, the second ONE partial-argmax
    # row per doc (struct-ordered max_by is SortAggregate by
    # implementation -- per-partition sort on compact rows -- but
    # never a Window and never more than the two exchanges)
    assert plan.count("Exchange") == 2, plan
    assert plan.count("partial_count") == 1, plan
    assert "partial_max_by" in plan, plan
    assert "Window" not in plan, plan


def test_bpe_token_count_units(spark):
    """BPE pretokenizer counting: contractions split, space-prefixed
    runs are one token each, whitespace runs are never tokens, and the
    pattern stays lookahead-free (RE2-portable for the oracle twin)."""
    from parse_html_spark.functions.textfn import (
        BPE_TOKEN_RE,
        bpe_token_count,
    )

    assert "(?=" not in BPE_TOKEN_RE and "(?!" not in BPE_TOKEN_RE
    cases = [
        ("don't stop", 3),  # don / 't / ' stop'
        ("", 0),
        ("   ", 0),
        ("abc", 1),
        ("hello world", 2),
        ("42 cats!!", 3),
        ("it's", 2),
    ]
    df = spark.createDataFrame(cases, "text string, want long")
    out = df.select("text", "want", bpe_token_count(F.col("text")).alias("n"))
    bad = [(r["text"], r["want"], r["n"]) for r in out.collect() if r["n"] != r["want"]]
    assert not bad, bad


def test_pii_redaction_units(spark):
    """redact_pii replaces every pattern kind everywhere, pii_counts
    counts on the original text, and non-PII lookalikes survive."""
    from parse_html_spark.functions.textfn import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            ("mail a@b.io and c.d+e@f-g.org now",),
            ("hosts 10.0.0.1 and 192.168.1.255, ver 1.2 not 1.2.3.4.5",),
            ("call +491701234567 or +15551234567; plus +1 is too short",),
            ("dial 555-123-4567 or 555.123.4567 but not 12-34 or 1.2.3",),
            ("clean text with no pii at all",),
        ],
        "text string",
    )
    rows = df.select(
        redact_pii(F.col("text")).alias("r"),
        pii_counts(F.col("text")).alias("p"),
    ).collect()
    assert rows[0]["r"] == "mail <EMAIL> and <EMAIL> now"
    assert rows[0]["p"]["n_email"] == 2
    # 1.2.3.4.5 contains a 4-octet \b-bounded prefix 1.2.3.4 -- the
    # conservative pattern redacts it; plain 1.2 survives
    assert rows[1]["r"] == "hosts <IPV4> and <IPV4>, ver 1.2 not <IPV4>.5"
    assert rows[1]["p"]["n_ipv4"] == 3
    assert rows[2]["r"] == "call <PHONE> or <PHONE>; plus +1 is too short"
    assert rows[2]["p"]["n_phone"] == 2
    assert rows[3]["r"] == (
        "dial <PHONE> or <PHONE> but not 12-34 or 1.2.3"
    )
    assert rows[3]["p"]["n_phone"] == 2 and rows[3]["p"]["n_ipv4"] == 0
    assert rows[4]["r"] == "clean text with no pii at all"
    assert tuple(rows[4]["p"]) == (0, 0, 0)


def test_pii_phone_no_partial_redaction(spark):
    """A 16+-digit run is not a phone (E.164 caps at 15): the pattern
    must match all-or-nothing, never redact a prefix and leak the
    trailing digits glued to the placeholder (review r7)."""
    from parse_html_spark.functions.textfn import pii_counts, redact_pii

    df = spark.createDataFrame(
        [("id +1234567890123456 stays; +123456789012345 goes",)],
        "text string",
    )
    r = df.select(
        redact_pii(F.col("text")).alias("r"),
        pii_counts(F.col("text")).alias("p"),
    ).collect()[0]
    assert r["r"] == "id +1234567890123456 stays; <PHONE> goes"
    assert r["p"]["n_phone"] == 1


def test_chunk_dup_stats(spark):
    """Exact-substring chunk dedup: cross-doc shared chunks, within-doc
    repetition, short docs (no full window), and NULL text all land in
    the output with the right counts."""
    from parse_html_spark.functions.dedup import chunk_dup_stats

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # 'a b c', 'd e f'
            (2, "A  b   C x y z"),     # case/space-insensitive 'a b c'
            (3, "p q"),                # < k tokens: zero chunks
            (4, "m m m m m m m m m"),  # 3 identical within-doc chunks
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in chunk_dup_stats(df, k=3).collect()}
    assert len(rows) == 5
    assert (rows[1]["n_chunks"], rows[1]["n_dup_chunks"]) == (2, 1)
    assert (rows[2]["n_chunks"], rows[2]["n_dup_chunks"]) == (2, 1)
    assert rows[1]["dup_ratio"] == 0.5
    assert (rows[3]["n_chunks"], rows[3]["n_dup_chunks"]) == (0, 0)
    assert (rows[4]["n_chunks"], rows[4]["n_dup_chunks"]) == (3, 3)
    assert rows[4]["dup_ratio"] == 1.0
    assert (rows[5]["n_chunks"], rows[5]["dup_ratio"]) == (0, 0.0)
    plan = (
        chunk_dup_stats(df, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in plan  # chunk counts map-side combined


def test_decontaminate(spark):
    """Benchmark decontamination: stride-1 shingle overlap marks the
    contaminated docs (incl. a short doc via the whole-doc shingle and
    a prefix-extension), clean docs stay clean, every input doc is in
    the output, and the benchmark side broadcasts."""
    from parse_html_spark.functions.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta one two three eight nine ten x"),
            (2, "completely different words with no overlap at all ok"),
            (3, "short doc"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "zz alpha beta gamma delta one two three eight nine yy"),
         (101, "short doc")],
        "doc_id long, text string",
    )
    out = decontaminate(train, bench, k=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[1]["contaminated"] and rows[1]["n_hits"] == 2
    assert not rows[2]["contaminated"] and rows[2]["n_hits"] == 0
    assert rows[3]["contaminated"] and rows[3]["n_hits"] == 1
    assert not rows[4]["contaminated"]  # NULL text -> clean, retained
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # eval set never shuffles corpus


def test_chunk_col_reconstructs_prefix(spark):
    """Property pin over seeded-random docs: joining a doc's chunks
    with spaces reproduces exactly its first n_chunks*k normalized
    tokens (windows are disjoint, ordered, and full)."""
    import random

    from parse_html_spark.functions.dedup import chunk_col

    rng = random.Random(7)
    words = "alpha beta Gamma DELTA ep zed x7 q".split()
    docs = []
    for i in range(120):
        n = rng.randrange(0, 40)
        docs.append((i, "  ".join(rng.choice(words) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k = 5
    rows = df.select(
        "text",
        F.array_join(chunk_col(F.col("text"), k), " ").alias("joined"),
        F.size(chunk_col(F.col("text"), k)).alias("n"),
    ).collect()
    for r in rows:
        toks = r["text"].lower().split()
        n_chunks = len(toks) // k
        assert r["n"] == n_chunks
        assert r["joined"] == " ".join(toks[: n_chunks * k])


def test_dedup_lines_global(spark):
    """C4-style global line dedup: first (doc, pos) occurrence wins
    corpus-wide, within-doc repeats drop, short lines bypass, fully
    deduped docs stay with empty text, and the join is never a
    nested-loop (unique (line,id,pos) triple on both sides)."""
    from parse_html_spark.functions.dedup import dedup_lines_global

    df = spark.createDataFrame(
        [
            (1, "shared long line here\nunique to doc one\n--"),
            (2, "its own first line two\nshared long line here\n--"),
            (3, "shared long line here"),
            (4, "repeat me inside doc\nrepeat me inside doc"),
            (5, None),  # NULL text must not vanish (review r7)
        ],
        "doc_id long, text string",
    )
    out = dedup_lines_global(df, min_chars=5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[5]["text_dedup"] == ""
    assert rows[5]["n_kept"] == 0 and rows[5]["n_dropped"] == 0
    assert rows[1]["text_dedup"] == (
        "shared long line here\nunique to doc one\n--"
    )
    assert rows[1]["n_kept"] == 3 and rows[1]["n_dropped"] == 0
    # doc 2 loses the shared line to doc 1; '--' is short -> bypass
    assert rows[2]["text_dedup"] == "its own first line two\n--"
    assert rows[2]["n_dropped"] == 1
    # doc 3 loses its only line but stays in the output
    assert rows[3]["text_dedup"] == "" and rows[3]["n_kept"] == 0
    # within-doc repeat drops too
    assert rows[4]["text_dedup"] == "repeat me inside doc"
    assert rows[4]["n_dropped"] == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "partial_min" in plan, plan  # winner agg map-side combined


def test_hash_sample_and_split_assign(spark):
    """Deterministic sampling/splitting: same rows across repartitions
    and salts are independent; split labels are exhaustive, disjoint,
    stable, and within sane mass of the requested weights."""
    import pytest

    from parse_html_spark.functions.textfn import hash_sample, split_assign

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in hash_sample(df, 1024).collect()}
    s2 = {
        r["doc_id"]
        for r in hash_sample(df.repartition(13), 1024).collect()
    }
    assert s1 == s2  # partitioning-independent
    assert 0.18 < len(s1) / 4000 < 0.32  # ~25% requested
    other = {r["doc_id"] for r in hash_sample(df, 1024, salt="x").collect()}
    assert other != s1  # salted sample is a different subset
    # nested property: a smaller fraction is a SUBSET of a larger one
    s_small = {r["doc_id"] for r in hash_sample(df, 256).collect()}
    assert s_small <= s1
    assert len({r["doc_id"] for r in hash_sample(df, 0).collect()}) == 0
    assert len({r["doc_id"] for r in hash_sample(df, 4096).collect()}) == 4000

    w = {"train": 3277, "val": 410, "test": 409}
    lab = df.select(
        "doc_id", split_assign(F.col("doc_id"), w).alias("s")
    ).collect()
    counts = {}
    for r in lab:
        counts[r["s"]] = counts.get(r["s"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert 0.74 < counts["train"] / 4000 < 0.86
    again = df.select(split_assign(F.col("doc_id"), w).alias("s")).collect()
    assert [r["s"] for r in lab] == [r["s"] for r in again]

    # hex-boundary edge: a full-mass non-last label must own every row
    allb = df.select(
        split_assign(F.col("doc_id"), {"a": 4096, "b": 0}).alias("s")
    ).collect()
    assert {r["s"] for r in allb} == {"a"}

    with pytest.raises(ValueError):
        hash_sample(df, 5000)
    with pytest.raises(ValueError):
        split_assign(F.col("doc_id"), {"a": 4000, "b": 400})
    with pytest.raises(ValueError):
        split_assign(F.col("doc_id"), {})


def test_media_feature_stub(spark):
    from parse_html_spark.functions.media import (
        attach_payload,
        extract_media_features,
    )

    df = spark.createDataFrame(
        [("media://img-1-2",), ("media://ext-3-0",)], "media_ref string"
    )
    feats = extract_media_features(attach_payload(df)).collect()
    assert len(feats) == 2
    for r in feats:
        assert r["n_bytes"] > 0
        assert len(r["feature"]) == 8
    # deterministic: same input -> same checksum
    again = extract_media_features(attach_payload(df)).collect()
    assert {r["checksum"] for r in feats} == {r["checksum"] for r in again}


def test_media_resize_and_frames(spark):
    from parse_html_spark.functions.media import (
        attach_payload,
        resize_images,
        sample_frames,
    )

    df = attach_payload(
        spark.createDataFrame([("media://v-1",), ("media://v-2",)], "media_ref string")
    )
    rs = resize_images(df, 64, 64).collect()
    assert len(rs) == 2
    assert all(r["width"] == 64 and bytes(r["payload"]).startswith(b"resized:") for r in rs)
    fr = sample_frames(df, every_ms=500, duration_ms=2000).toPandas()
    assert len(fr) == 2 * 4  # fan-out: 4 frames per video
    assert sorted(fr["ts_ms"].unique()) == [0, 500, 1000, 1500]


def test_sample_frames_rejects_bad_schedule(spark):
    """A zero step would fail every executor task (range() step 0) and
    a negative one would silently sample nothing: both are rejected on
    the driver, naming the parameter, as is a negative duration."""
    from parse_html_spark.functions.media import attach_payload, sample_frames

    df = attach_payload(
        spark.createDataFrame([("media://v-1",)], "media_ref string")
    )
    for kwargs, name in (
        ({"every_ms": 0}, "every_ms"),
        ({"every_ms": -5}, "every_ms"),
        ({"duration_ms": -1}, "duration_ms"),
    ):
        with pytest.raises(ValueError, match=name):
            sample_frames(df, **kwargs)
    # an empty schedule is valid: no frames
    assert sample_frames(df, duration_ms=0).count() == 0


def test_resize_images_rejects_bad_size(spark):
    """A zero target size would fail every executor task (a division by
    zero in the resampler) and a negative one would write a PNG the
    package's own decoder rejects, or a ``resized:-2x3`` payload with
    fake=True: both are rejected on the driver, naming the parameter."""
    from parse_html_spark.functions.media import attach_payload, resize_images

    df = attach_payload(
        spark.createDataFrame([("media://img-1",)], "media_ref string")
    )
    for fake in (True, False):
        for width, height, name in (
            (0, 4, "width"),
            (-2, 3, "width"),
            (4, 0, "height"),
            (3, -2, "height"),
        ):
            with pytest.raises(ValueError, match=name):
                resize_images(df, width, height, fake=fake)
    # the smallest valid size still runs
    assert resize_images(df, 1, 1).count() == 1


def test_extract_media_features_rejects_bad_dim(spark):
    """``dim`` < 1 would fail every task with fake=True (a negative
    random draw) and silently return a 6-float feature with fake=False:
    both modes reject it on the driver, naming the parameter."""
    from parse_html_spark.functions.media import (
        attach_payload,
        extract_media_features,
    )

    df = attach_payload(
        spark.createDataFrame([("media://img-1",)], "media_ref string")
    )
    for fake in (True, False):
        for dim in (0, -1):
            with pytest.raises(ValueError, match="dim"):
                extract_media_features(df, fake=fake, dim=dim)
    (row,) = extract_media_features(df, dim=1).collect()
    assert len(row["feature"]) == 1


def test_media_stub_raises_without_fake(spark):
    from parse_html_spark.functions.media import (
        attach_payload,
        extract_media_features,
    )
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame([("media://x",)], "media_ref string")
    with pytest.raises(Exception) as ei:
        extract_media_features(attach_payload(df), fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "decode" in str(ei.value)


def test_minhash_verified_recall_and_precision(spark):
    """VERDICT r01 item 1: plant known near-dups, assert (a) 100% recall
    of planted pairs through LSH banding and (b) every emitted candidate
    clears the exact shingle-Jaccard threshold (precision by
    construction of the verify stage)."""
    from parse_html_spark.functions.dedup import (
        jaccard_verify_pairs,
        minhash_near_duplicates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.filter(F.col("doc_id") < 30).select("doc_id", "text")
    near = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    both = docs.unionByName(near)
    got = minhash_near_duplicates(
        both, num_hashes=64, bands=32, min_jaccard=0.6
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    planted = {(i, i + 1000) for i in range(30)}
    assert planted <= pairs  # 100% recall of planted near-dups
    # precision: re-verify every emitted pair with exact Jaccard
    emitted = spark.createDataFrame(
        [(a, b) for a, b in pairs], "id_a long, id_b long"
    )
    verified = jaccard_verify_pairs(both, emitted, shingle_words=3)
    assert all(r["jaccard"] >= 0.6 for r in verified.collect())


def test_simhash_vectorized_matches_scalar_reference(spark):
    """The batch-vectorized simhash equals a straightforward per-doc
    scalar computation (same md5_number_upper token hash)."""
    import hashlib

    from parse_html_spark.functions.dedup import simhash64

    texts = [
        "the quick brown fox",
        "",
        "one",
        "a b c d e f g a b c",
        "Mixed CASE Tokens mixed case",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}

    def scalar(text):
        toks = text.lower().split()
        if not toks:
            return 0
        acc = [0] * 64
        for t in toks:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "little")
            for b in range(64):
                acc[b] += 1 if (h >> (63 - b)) & 1 else -1
        out = 0
        for b in range(64):
            if acc[b] > 0:
                out |= 1 << (63 - b)
        return out - (1 << 64) if out >= (1 << 63) else out

    for i, t in enumerate(texts):
        assert got[i] == scalar(t), (i, t)


def test_simhash_banding_lossless_for_radius(spark):
    """Pigeonhole banding: every pair within the Hamming radius is
    emitted (compare against brute-force over collected simhashes)."""
    from parse_html_spark.functions.dedup import simhash64, simhash_near_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.filter(F.col("doc_id") < 25).select("doc_id", "text")
    near = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" y")).alias("text"),
    )
    both = docs.unionByName(near)
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(both).collect()}
    ids = sorted(sh)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= 8
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(both, max_hamming=8).collect()
    }
    assert got == brute


def test_token_jaccard_max_df_bounds_hot_tokens(spark):
    """The document-frequency cap drops quadratic hot tokens from the
    equi-join while distinctive tokens still pair up."""
    from parse_html_spark.functions.dedup import token_jaccard_pairs

    # 'common' appears in every doc (hot); unique tails pair 1-2 only
    rows = [(i, f"common filler{i % 2}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # uncapped: 'common' joins all 190 pairs
    uncapped = token_jaccard_pairs(df, min_jaccard=0.01)
    assert uncapped.count() == 190
    # capped at df<=10: 'common' (df=20) is dropped; only the filler0/
    # filler1 groups (df=10 each) survive -> 2 * C(10,2) = 90 pairs,
    # all with jaccard 1.0 on the remaining token set
    capped = token_jaccard_pairs(df, min_jaccard=0.01, max_df=10).collect()
    assert len(capped) == 90
    assert all(r["jaccard"] == 1.0 for r in capped)


def test_token_jaccard_default_cap_is_finite(spark):
    """The hot-token guard is ON BY DEFAULT (max_df=1000): a stop-word
    present in every one of 1200 docs would contribute C(1200,2) ~ 7e5
    join rows uncapped; under the default cap it is dropped before the
    join and the otherwise-unique docs produce zero pairs."""
    import inspect

    from parse_html_spark.functions.dedup import token_jaccard_pairs

    sig = inspect.signature(token_jaccard_pairs)
    assert sig.parameters["max_df"].default == 1000
    rows = [(i, f"the unique{i}") for i in range(1200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert token_jaccard_pairs(df, min_jaccard=0.01).count() == 0


def test_lsh_topk_all_probe_is_exact_and_single_bucket_recalls(spark):
    """Multi-probe hyperplane LSH: probing all 2^bits buckets equals
    exact brute force (the oracle configuration); a planted exact
    duplicate of the query vector is deterministically recalled even at
    single-bucket probing (identical vector -> identical sign bucket)."""
    from parse_html_spark.functions.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    rows = [
        (i, [float((i * 7) % 11) - 5.0, float((i * 3) % 13) - 6.0, 1.0, float(i % 5)])
        for i in range(60)
    ]
    q = [2.5, -1.5, 1.0, 3.0]
    rows.append((999, list(q)))  # planted exact duplicate of the query
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = [(r["vec_id"], r["cosine"]) for r in cosine_topk(df, q, k=5).collect()]
    allprobe = [
        (r["vec_id"], r["cosine"])
        for r in lsh_cosine_topk(
            df, q, k=5, bits=3, n_probe_buckets=8
        ).collect()
    ]
    assert allprobe == exact
    single = [
        r["vec_id"]
        for r in lsh_cosine_topk(df, q, k=1, bits=4, n_probe_buckets=1).collect()
    ]
    assert single == [999]


def test_embedding_near_duplicates_recall_precision(spark):
    """Embedding-cosine near-dup: planted perturbed copies are all
    recalled through multi-table hyperplane LSH; nothing below the
    cosine threshold is emitted."""
    from parse_html_spark.functions.similarity import embedding_near_duplicates

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 20)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    near = emb.select(
        (F.col("vec_id") + 500).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding")[0] + F.lit(0.01)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    both = emb.unionByName(near)
    got = embedding_near_duplicates(both, dim=64, min_cosine=0.95).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert {(i, i + 500) for i in range(20)} <= pairs  # full recall
    assert all(r["cosine"] >= 0.95 for r in got)  # verified threshold


def test_simhash_batch_invariant_to_empty_neighbors(spark):
    """Regression: a document's simhash must not depend on empty/
    whitespace-only rows elsewhere in the same Arrow batch (the
    reduceat segmentation must skip empty docs, not clamp into the
    previous document's segment)."""
    from parse_html_spark.functions.dedup import simhash64

    texts = ["a b", "", "c d e", "   ", "f"]
    mixed = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).coalesce(1)  # force one batch containing the empties
    alone = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts) if t.strip()],
        "doc_id long, text string",
    ).repartition(4)  # each doc in its own batch
    got_mixed = {r["doc_id"]: r["simhash"] for r in simhash64(mixed).collect()}
    got_alone = {r["doc_id"]: r["simhash"] for r in simhash64(alone).collect()}
    for i in got_alone:
        assert got_mixed[i] == got_alone[i], i
    assert got_mixed[1] == 0 and got_mixed[3] == 0


def test_null_embedding_rows_survive_signature_udfs(spark):
    """Review r4: a NULL embedding must flow through the matmul
    signature UDFs as bucket/cell 0 (the replaced Column chain's
    null-dot semantics), not crash the task in np.stack."""
    from parse_html_spark.functions.similarity import (
        ivf_assignments,
        lsh_candidate_pairs,
    )

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, None), (2, [1.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(df, dim=4, tables=2, bits=3).collect()
    }
    assert (0, 2) in pairs  # identical vectors still collide
    cells = {
        r["vec_id"]: r["_ivf_cell"]
        for r in ivf_assignments(df, dim=4, n_cells=4).collect()
    }
    assert len(cells) == 3 and cells[1] == 0  # null row -> cell 0


def test_hot_bucket_soak_default_caps(spark):
    """Mega-bucket soak at the DEFAULT caps: 20k identical near-empty
    docs funnel into one bucket per band (a 2e8-row-per-band self-join
    uncapped); all three batch LSH candidate operators must complete
    quickly with the planted distinctive pair intact, and the audit
    twins must report exactly the dropped buckets (observable pruning,
    ADVICE r3)."""
    import time

    from parse_html_spark.functions.dedup import (
        minhash_hot_buckets,
        minhash_lsh_pairs,
        simhash_hot_buckets,
        simhash_near_pairs,
    )
    from parse_html_spark.functions.similarity import (
        embedding_hot_buckets,
        lsh_candidate_pairs,
    )

    n = 20_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("near empty boilerplate stub").alias("text"),
    )
    pair = spark.createDataFrame(
        [
            (1_000_000, "rare unique words alpha beta gamma delta"),
            (1_000_001, "rare unique words alpha beta gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    df = docs.unionByName(pair)

    t0 = time.time()
    mh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}
    assert (1_000_000, 1_000_001) in mh
    assert not any(a < n for a, _ in mh)  # mega-cluster suppressed
    sh = {(r["id_a"], r["id_b"]) for r in simhash_near_pairs(df).collect()}
    assert not any(a < n for a, _ in sh)

    vec = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(0.5), 16).alias("embedding"),
    )
    pv = spark.createDataFrame(
        [(1_000_000, [1.0] + [0.0] * 15), (1_000_001, [0.99, 0.01] + [0.0] * 14)],
        "vec_id long, embedding array<double>",
    )
    vdf = vec.unionByName(pv)
    em = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(vdf, dim=16).collect()}
    assert (1_000_000, 1_000_001) in em
    assert not any(a < n for a, _ in em)
    wall = time.time() - t0
    assert wall < 300, f"capped soak took {wall:.0f}s"  # uncapped = hours

    # audit twins report EXACTLY the dropped buckets
    assert sorted(
        (r["band"], r["bucket_n"]) for r in minhash_hot_buckets(df).collect()
    ) == [(b, n) for b in range(8)]
    assert sorted(
        (r["chunk"], r["bucket_n"]) for r in simhash_hot_buckets(df).collect()
    ) == [(c, n) for c in range(4)]
    assert sorted(
        (r["tbl"], r["bucket_n"])
        for r in embedding_hot_buckets(vdf, dim=16).collect()
    ) == [(t, n) for t in range(8)]
    from parse_html_spark.functions.dedup import hot_tokens

    assert sorted(
        (r["tok"], r["df_count"]) for r in hot_tokens(df).collect()
    ) == [(t, n) for t in ("boilerplate", "empty", "near", "stub")]


def test_lsh_hot_bucket_cap_bounds_join(spark):
    """Hot-bucket guard (default ON): a mega-bucket of identical
    signatures would be a k^2/2 self-join; under the cap its buckets
    are dropped before the join, while distinctive near-dups in small
    buckets still pair up."""
    from parse_html_spark.functions.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )

    same = [(i, "identical boilerplate text repeated") for i in range(200)]
    pair = [
        (1000, "rare unique words alpha beta gamma delta"),
        (1001, "rare unique words alpha beta gamma delta epsilon"),
    ]
    df = spark.createDataFrame(same + pair, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, max_bucket=50).collect()
    }
    # the 200-strong identical cluster is suppressed (dedup_exact's job);
    # the small-bucket near-dup pair survives
    assert (1000, 1001) in capped
    assert not any(a < 1000 and b < 1000 for a, b in capped)
    # uncapped form still yields the full quadratic candidate set
    assert minhash_lsh_pairs(df, max_bucket=None).count() == 200 * 199 // 2 + 1
    sim = simhash_near_pairs(df, max_hamming=4, max_bucket=50)
    got = {(r["id_a"], r["id_b"]) for r in sim.collect()}
    # the identical-signature mega-cluster is suppressed under the cap
    assert not any(a < 1000 and b < 1000 for a, b in got)


@pytest.mark.parametrize("bands", [-1, 0, 8])
def test_minhash_bands_outside_hash_count_raise(spark, tmp_path, bands):
    """bands must lie in 1..num_hashes. With 8 bands over 4 hashes every
    band hashed an empty slice, so all pairs collided (and a max_bucket
    cap then dropped them all); with bands <= 0 there were no band rows
    (or a bare ZeroDivisionError). Every MinHash-LSH entry point now
    raises a ValueError naming both values -- the streaming one before
    its query starts."""
    from parse_html_spark.functions.dedup import (
        minhash_hot_buckets,
        minhash_lsh_pairs,
        minhash_near_duplicates,
    )
    from parse_html_spark.streaming import streaming_near_dup_candidates

    df = spark.createDataFrame(
        [(i, f"distinct document number {i}") for i in range(4)],
        "doc_id long, text string",
    )
    calls = [
        lambda: minhash_lsh_pairs(df, num_hashes=4, bands=bands),
        lambda: minhash_hot_buckets(df, num_hashes=4, bands=bands),
        lambda: minhash_near_duplicates(df, num_hashes=4, bands=bands),
        lambda: streaming_near_dup_candidates(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            num_hashes=4,
            bands=bands,
        ),
    ]
    active = len(spark.streams.active)
    for call in calls:
        with pytest.raises(ValueError, match=rf"bands={bands}\b.*num_hashes=4"):
            call()
    assert len(spark.streams.active) == active


@pytest.mark.parametrize("cap", [-1, 0])
def test_stream_max_bucket_sigs_below_one_raises(spark, tmp_path, cap):
    """``ids[-0:]`` is the whole list, so max_bucket_sigs=0 never
    evicted and a negative cap evicted from the wrong end: the state
    bound was silently off. The driver now raises before the query
    starts."""
    from parse_html_spark.streaming import streaming_near_dup_candidates

    active = len(spark.streams.active)
    with pytest.raises(ValueError, match=rf"max_bucket_sigs={cap}\b"):
        streaming_near_dup_candidates(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            max_bucket_sigs=cap,
        )
    assert len(spark.streams.active) == active


@pytest.mark.parametrize("cap", [0, 1])
@pytest.mark.parametrize(
    "op", ["minhash_lsh_pairs", "simhash_near_pairs", "lsh_candidate_pairs",
           "token_jaccard_pairs"],
)
def test_pair_caps_below_two_raise_before_any_job(spark, op, cap):
    """A pair needs two rows in one bucket (two documents sharing one
    token), so a max_bucket / max_df of 0 or 1 dropped every pair --
    after a checkpoint job had already run. Each operator now raises a
    ValueError naming the cap, and runs no Spark job first."""
    from parse_html_spark.functions.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
        token_jaccard_pairs,
    )
    from parse_html_spark.functions.similarity import lsh_candidate_pairs

    texts = spark.createDataFrame(
        [(i, f"shared words document {i}") for i in range(4)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, float(i)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    calls = {
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(texts, max_bucket=cap),
        "simhash_near_pairs": lambda: simhash_near_pairs(texts, max_bucket=cap),
        "lsh_candidate_pairs": lambda: lsh_candidate_pairs(
            vecs, dim=4, max_bucket=cap
        ),
        "token_jaccard_pairs": lambda: token_jaccard_pairs(texts, max_df=cap),
    }
    name = "max_df" if op == "token_jaccard_pairs" else "max_bucket"
    sc = spark.sparkContext
    group = f"cap-check-{op}-{cap}"
    sc.setJobGroup(group, "a cap below 2 must raise before any job")
    try:
        with pytest.raises(ValueError, match=rf"{name}={cap} must be None or >= 2"):
            calls[op]()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_mixed_dimension_embeddings_fail_with_named_length():
    """ADVICE r4: an embedding of the wrong length must raise a
    ValueError naming the offending length, not an opaque np.stack
    shape error from inside the pandas UDF."""
    import pytest

    from parse_html_spark.functions.similarity import _batch_matrix

    good = _batch_matrix([[1.0, 2.0], None, [3.0, 4.0]], dim=2)
    assert good.shape == (3, 2) and list(good[1]) == [0.0, 0.0]
    with pytest.raises(ValueError, match="expected dim=4.*batch row 1"):
        _batch_matrix([[1.0] * 4, [1.0] * 3], dim=4)


def test_distributed_ivf_training_matches_driver_recipe(spark):
    """VERDICT r4 #6: executor-side Lloyd (mapInPandas partial sums)
    must reproduce the driver recipe's centroids at the default sample
    (same membership, same seeded init; only float-sum order differs),
    and the trained quantizer must slot into ivf_cosine_topk with
    all-probe == exact."""
    import numpy as np

    from parse_html_spark.functions.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_train_centroids,
        ivf_train_centroids_distributed,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(dim=64, n_cells=8, iters=10)
    C_driver = ivf_train_centroids(df, **kw)
    C_dist = ivf_train_centroids_distributed(df, **kw)
    assert C_dist.shape == (8, 64)
    assert np.allclose(C_dist, C_driver, atol=1e-8)
    # determinism: a second distributed run is identical
    assert np.array_equal(
        C_dist, ivf_train_centroids_distributed(df, **kw)
    )
    # sample=None trains on the whole corpus without a driver collect
    C_all = ivf_train_centroids_distributed(df, sample=None, **kw)
    assert C_all.shape == (8, 64)
    # the trained quantizer is a drop-in: all-probe == exact top-k
    q = df.filter("vec_id = 7").first()["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_cosine_topk(
            df, q, k=5, n_cells=8, n_probe=8, centroids=C_dist
        ).collect()
    ]
    assert approx == exact
