"""MinHash signature parity without Spark: the batched ``_minhash_sigs``
(one segmented-min product per Arrow batch) must sign every text
exactly as signing it alone, and as the per-document reference below."""

import re
import zlib

import hypothesis.strategies as st
import numpy as np
from hypothesis import example, given, settings

from parse_html_spark.functions.dedup import _MH_PRIME, _mh_coeffs, _minhash_sigs

_ASCII_WS = re.compile(r"[ \t\n\r\f\v]+")
WORDS = ["Alpha", "beta", "gamma", "a", "\u00df", "x\u00a0y", "p\u2009q"]
SEPS = [" ", "  ", "\t", "\n", "\u00a0", "\u2009"]


def _reference_sig(text, coeffs, shingle_words):
    """One document signed alone: crc32 per distinct word-shingle of
    the ASCII-whitespace tokens, then min over (a*h+b) mod p."""
    toks = [t for t in _ASCII_WS.split((text or "").lower()) if t]
    if len(toks) < shingle_words:
        shingles = {" ".join(toks)} if toks else {""}
    else:
        shingles = {
            " ".join(toks[i : i + shingle_words])
            for i in range(len(toks) - shingle_words + 1)
        }
    a, b = coeffs
    h = np.array([zlib.crc32(s.encode("utf-8")) for s in shingles], dtype=np.int64)
    perm = (a[:, None] * (h % _MH_PRIME)[None, :] + b[:, None]) % _MH_PRIME
    return perm.min(axis=1).tolist()


@st.composite
def texts(draw):
    kind = draw(st.sampled_from(["none", "empty", "words"]))
    if kind == "none":
        return None
    if kind == "empty":
        return ""
    # a small vocabulary makes repeated shingles common
    words = draw(st.lists(st.sampled_from(WORDS), max_size=8))
    out = draw(st.sampled_from(["", " "]))
    for w in words:
        out += w + draw(st.sampled_from(SEPS))
    return out


COEFFS = _mh_coeffs(16)


@settings(max_examples=200, deadline=None)
@given(batch=st.lists(texts(), max_size=6), shingle_words=st.integers(1, 4))
@example(batch=[None, "", "a", "a b", "a b a b a b"], shingle_words=3)
@example(batch=["x\u00a0y z", "x y z", "p\u2009q r s"], shingle_words=2)
def test_batch_signatures_equal_per_doc_signatures(batch, shingle_words):
    got = _minhash_sigs(batch, COEFFS, shingle_words)
    assert len(got) == len(batch)
    for text, sig in zip(batch, got):
        assert sig == _minhash_sigs([text], COEFFS, shingle_words)[0]
        assert sig == _reference_sig(text, COEFFS, shingle_words)


def test_non_ascii_space_does_not_split_tokens():
    """U+00A0 / U+2009 stay inside a token, as in the JVM shingles_col
    and the DuckDB oracle: "x\\u00a0y z" is two tokens, one shingle."""
    nbsp, two = _minhash_sigs(["x\u00a0y z", "x y z"], COEFFS, 2)
    assert nbsp != two
    assert nbsp == _reference_sig("x\u00a0y z", COEFFS, 2)


def test_none_signs_like_empty_text():
    none_sig, empty_sig = _minhash_sigs([None, ""], COEFFS, 3)
    assert none_sig == empty_sig
    assert _minhash_sigs([], COEFFS, 3) == []
