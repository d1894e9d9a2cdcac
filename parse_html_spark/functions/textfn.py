"""Text-analysis operators (JVM-side Column expressions; no Python UDFs).

Every function returns a Column so Catalyst folds it into whole-stage
codegen; each has an ANSI/DuckDB-SQL twin in __spark_entry__.oracle_sql.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]

# marker words per language for the n-gram/marker language-ID heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "los", "es", "una"],
}


def tokens(col) -> Column:
    """Whitespace tokens of trimmed text; empty text -> empty array."""
    c = F.trim(col)
    return F.when(c == "", F.array().cast("array<string>")).otherwise(
        F.split(c, r"\s+")
    )


def token_count(col) -> Column:
    return F.size(tokens(col)).alias("token_count")


def punct_ratio(col) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    total = F.length(col)
    punct = total - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def stopword_ratio(col) -> Column:
    toks = tokens(F.lower(col))
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(n == 0, F.lit(0.0)).otherwise(stop / n)


def quality_score(col) -> Column:
    """Deterministic quality heuristic in [0,1]: rewards stopword
    presence and moderate token length, penalizes punctuation soup.
    score = clamp(0.4*min(sw*5,1) + 0.4*min(ntok/100,1) + 0.2*(1-punct*4), 0, 1)"""
    sw = stopword_ratio(col)
    ntok = F.size(tokens(col)).cast("double")
    pr = punct_ratio(col)
    raw = (
        0.4 * F.least(sw * 5.0, F.lit(1.0))
        + 0.4 * F.least(ntok / 100.0, F.lit(1.0))
        + 0.2 * (1.0 - F.least(pr * 4.0, F.lit(1.0)))
    )
    return F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0))


def lang_score(col, lang: str) -> Column:
    toks = tokens(F.lower(col))
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_id(col) -> Column:
    """Marker-word language ID: argmax of per-language marker counts,
    ties resolved in en > de > fr > es order; all-zero -> 'und'."""
    scores = {lang: lang_score(col, lang) for lang in LANG_MARKERS}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col) -> Column:
    """Document fingerprint: md5 of lowercased whitespace-normalized text
    (identical to DuckDB md5 on the same normalization)."""
    norm = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.md5(norm)


# ---------------------------------------------------------------------------
# Repetition / structure quality signals (public-paper rules: Gopher
# [Rae et al. 2021, Table A1], C4 [Raffel et al. 2020 §2.2], RefinedWeb
# [Penedo et al. 2023]). All pure Column expressions -- the lambdas
# below touch ONLY their element argument (see build notes: row-level
# exprs inside higher-order lambdas re-evaluate per element).
# ---------------------------------------------------------------------------


def nonempty_lines(col) -> Column:
    """Trimmed non-empty lines of text (split on newline)."""
    return F.filter(
        F.transform(F.split(col, r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def nonempty_paragraphs(col) -> Column:
    """Trimmed non-empty paragraphs (split on blank line)."""
    return F.filter(
        F.transform(F.split(col, r"\n\n+"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def repetition_metrics(col) -> Column:
    """Gopher-style repetition/structure counters as a struct of exact
    integers (ratios are for the caller so the thresholds below can be
    evaluated in overflow-safe integer arithmetic):

      n_lines / n_paras    -- non-empty trimmed lines / paragraphs
      dup_lines/dup_paras  -- count minus distinct count (the numerator
                              of Gopher's duplicate line/paragraph
                              fraction)
      bullet_lines         -- lines starting with '- ', '* ' or a
                              bullet char (C4 heuristic)
      ellipsis_lines       -- lines ending with '...' or U+2026
    """
    lines = nonempty_lines(col)
    paras = nonempty_paragraphs(col)
    n_lines = F.size(lines)
    n_paras = F.size(paras)
    return F.struct(
        n_lines.alias("n_lines"),
        (n_lines - F.size(F.array_distinct(lines))).alias("dup_lines"),
        n_paras.alias("n_paras"),
        (n_paras - F.size(F.array_distinct(paras))).alias("dup_paras"),
        F.size(
            F.filter(
                lines,
                lambda x: x.startswith("- ")
                | x.startswith("* ")
                | x.startswith("•"),
            )
        ).alias("bullet_lines"),
        F.size(
            F.filter(
                lines,
                lambda x: x.endswith("...") | x.endswith("…"),
            )
        ).alias("ellipsis_lines"),
    )


def symbol_counts(col) -> Column:
    """(hash chars, ellipsis sequences) -- the numerators of Gopher's
    symbol-to-word ratio, as exact integers."""
    hashes = F.length(col) - F.length(F.regexp_replace(col, r"#", ""))
    ell = (
        F.length(col) - F.length(F.regexp_replace(col, r"\.\.\.", ""))
    ) / F.lit(3)
    return F.struct(
        hashes.cast("long").alias("hash_chars"),
        ell.cast("long").alias("ellipsis_seqs"),
    )


def gopher_filter(col) -> Column:
    """Gopher-rules keep/reject verdict as a struct (keep boolean +
    first-failing-rule reason). Thresholds follow Rae et al. 2021
    Table A1 (token-count window widened downward for short-doc
    corpora); every comparison is integer arithmetic, so the verdict
    is bit-identical across engines:

      too_few_tokens / too_many_tokens  -- n_tok outside [10, 100000]
      bad_mean_token_len                -- mean token length outside
                                           [3, 10]  (3n <= chars <= 10n)
      symbol_ratio       -- (#hash + #ellipsis-seq) * 10 > n_tok
      bullet_lines       -- bullet lines * 10 > 9 * lines
      ellipsis_lines     -- ellipsis lines * 10 > 3 * lines
      dup_lines          -- duplicate lines * 10 > 3 * lines
      dup_paras          -- duplicate paragraphs * 10 > 3 * paragraphs
      too_few_stopwords  -- fewer than 2 DISTINCT stopwords present
    """
    toks = tokens(col)
    n_tok = F.size(toks)
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    rep = repetition_metrics(col)
    sym = symbol_counts(col)
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(tokens(F.lower(col))),
            F.array(*[F.lit(s) for s in STOPWORDS]),
        )
    )
    reason = (
        F.when(n_tok < 10, F.lit("too_few_tokens"))
        .when(n_tok > 100000, F.lit("too_many_tokens"))
        .when(tok_chars < 3 * n_tok, F.lit("bad_mean_token_len"))
        .when(tok_chars > 10 * n_tok, F.lit("bad_mean_token_len"))
        .when(
            (sym["hash_chars"] + sym["ellipsis_seqs"]) * 10 > n_tok,
            F.lit("symbol_ratio"),
        )
        .when(
            rep["bullet_lines"] * 10 > rep["n_lines"] * 9,
            F.lit("bullet_lines"),
        )
        .when(
            rep["ellipsis_lines"] * 10 > rep["n_lines"] * 3,
            F.lit("ellipsis_lines"),
        )
        .when(rep["dup_lines"] * 10 > rep["n_lines"] * 3, F.lit("dup_lines"))
        .when(rep["dup_paras"] * 10 > rep["n_paras"] * 3, F.lit("dup_paras"))
        .when(n_stop < 2, F.lit("too_few_stopwords"))
        .otherwise(F.lit("keep"))
    )
    return F.struct(
        (reason == "keep").alias("keep"), reason.alias("reason")
    )


# BPE-style pretokenizer regex (GPT-2 family, lookahead-free so the
# SAME pattern runs under Java regex (Spark) and RE2 (DuckDB oracle)):
# contraction suffixes, space-prefixed letter runs, space-prefixed
# digit runs, space-prefixed punctuation runs, whitespace runs.
BPE_TOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def bpe_token_count(col) -> Column:
    """Subword-ish token count: the number of BPE pretokenizer matches
    (the unit an LLM tokenizer would split further). Whitespace-run
    matches are NOT counted as tokens; a leading ' word' match is one."""
    matches = F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0)
    return F.size(F.filter(matches, lambda m: F.trim(m) != ""))


# PII patterns, ordered so earlier redactions cannot manufacture later
# matches (emails contain dots+digits, so they go before IPv4/phone).
# Conservative dialect-portable syntax only: no lookaround, no
# backreferences -- identical semantics under Java regex and RE2.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IPV4>"),
    # international +NNNNNNNNN... or separator-grouped 555-123-4567 /
    # 555.123.4567 (after IPv4 redaction, so dotted triples that are
    # really IPs are already gone)
    # trailing \b makes the international form all-or-nothing: without
    # it, a 16+-digit run matched its first 15 digits and leaked the
    # rest glued to the placeholder (review r7). \b after \d is
    # dialect-portable (Java regex and RE2 agree), unlike lookahead.
    ("phone", r"\+\d{9,15}\b|\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def pii_counts(col) -> Column:
    """Per-kind PII match counts as a struct of exact integers
    (n_email, n_ipv4, n_phone) -- the census side of redact_pii.
    Counted on the ORIGINAL text, before any redaction."""
    return F.struct(
        *[
            F.size(F.regexp_extract_all(col, F.lit(pat), 0)).alias(
                f"n_{kind}"
            )
            for kind, pat, _ in PII_PATTERNS
        ]
    )


def redact_pii(col) -> Column:
    """Replace emails, IPv4 addresses and international phone numbers
    with typed placeholders (<EMAIL>/<IPV4>/<PHONE>), applied in an
    order that prevents one redaction from creating another kind's
    match. Pure Column expression; the 100 TB path is one codegen'd
    projection per row."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def _hash_bucket(col, salt: str) -> Column:
    """Deterministic 3-hex-char bucket of a key: the last 3 chars of
    md5(key || salt), compared LEXICOGRAPHICALLY so no hex-to-integer
    conversion (a classic cross-engine divergence point) is ever
    needed. 4096 buckets; identical string in any engine with md5."""
    return F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 30, 3)


def hash_sample(df, fraction_n: int, key_col: str = "doc_id", salt: str = ""):
    """Deterministic sampling: keep rows whose md5 bucket falls in the
    first ``fraction_n`` of 4096 -- the 100 TB-safe alternative to
    rand()-based .sample(): reproducible across runs, partitionings
    and cluster sizes, stable under retries, and a different ``salt``
    gives an independent sample. A pure narrow filter -- evaluated
    inside the scan stage with zero shuffle (the md5 expression itself
    is not a parquet PushedFilter, but unsampled rows die before any
    exchange)."""
    if not 0 <= fraction_n <= 4096:
        raise ValueError(f"fraction_n must be in [0, 4096], got {fraction_n}")
    if fraction_n == 4096:
        # f"{4096:03x}" is the FOUR-char '1000', which sorts BELOW
        # 'a00'-'fff' lexicographically and would silently drop ~5/8
        # of the corpus -- keep-everything must mean no filter at all
        return df
    thr = f"{fraction_n:03x}"
    return df.filter(_hash_bucket(F.col(key_col), salt) < F.lit(thr))


def split_assign(col, weights: dict[str, int], salt: str = "") -> Column:
    """Deterministic train/val/test split label: weights are in
    4096ths (e.g. {'train': 3686, 'val': 205, 'test': 205}; any
    shortfall falls into the LAST label) and must total <= 4096.
    Label boundaries are cumulative, assignment is the same
    lexicographic bucket as hash_sample -- so a row's split never
    changes when the corpus grows, shrinks or repartitions, and
    train/val can never leak into each other across runs."""
    total = sum(weights.values())
    if total > 4096 or not weights:
        raise ValueError(f"weights must be non-empty and total <= 4096, got {total}")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    bucket = _hash_bucket(col, salt)
    names = list(weights)
    # earlier labels own the lower bucket ranges; ranges are disjoint,
    # so a simple ascending-upper-bound CASE chain assigns each row to
    # the first bound it falls under, remainder -> last label
    expr = F.lit(names[-1])
    cum = 0
    bounds = []
    for name in names[:-1]:
        cum += weights[name]
        # cum == 4096 would format as the four-char '1000' (sorts
        # below 'a00') -- 'g' is above every hex bucket instead
        bounds.append((name, "g" if cum == 4096 else f"{cum:03x}"))
    for name, b in reversed(bounds):
        expr = F.when(bucket < F.lit(b), F.lit(name)).otherwise(expr)
    return expr


def annotate_quality(df, text_col: str = "text", split_key: str = "doc_id"):
    """One-projection quality layer for a training pipeline: appends
    the Gopher verdict (keep + reason), the PII-redacted text, the BPE
    token count and the deterministic train/val/test label. Every
    column is a stateless narrow expression, so the SAME call runs
    under readStream unchanged (no watermark, no state) -- the batch
    and streaming outputs are byte-identical."""
    t = F.col(text_col)
    v = gopher_filter(t)
    return df.withColumns(
        {
            "keep": v["keep"],
            "reject_reason": v["reason"],
            "text_redacted": redact_pii(t),
            "bpe_tokens": bpe_token_count(t),
            "split": split_assign(
                F.col(split_key),
                {"train": 3277, "val": 410, "test": 409},
            ),
        }
    )


def top_token(df, id_col: str = "doc_id", text_col: str = "text"):
    """Most frequent lowercase token per document (RefinedWeb-style
    top-n-gram repetition signal, n=1) as two hash aggregations, both
    map-side combined: explode -> (doc, token) count -> per-doc argmax
    via max_by. The first exchange carries partial-aggregated count
    rows, the second ONE row per document -- no sort, no window. Ties
    break on the lexicographically LARGEST token (max_by over a
    (count, token) struct), deterministic in any engine. Returns
    (id, top_tok, top_count, n_tokens, top_frac); documents with no
    tokens are absent (nothing to argmax)."""
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    top = counts.groupBy(id_col).agg(
        F.max_by("tok", F.struct(F.col("c"), F.col("tok"))).alias("top_tok"),
        F.max("c").alias("top_count"),
        F.sum("c").alias("n_tokens"),
    )
    return top.select(
        F.col(id_col),
        "top_tok",
        "top_count",
        "n_tokens",
        F.round(F.col("top_count") / F.col("n_tokens"), 4).alias("top_frac"),
    )
