"""parse_html_spark: a PySpark-native HTML query + main-content extraction
engine with the operator surface of ijortengab/parse-html, re-expressed
Spark-first (DataFrame / Arrow-vectorized mapInArrow).

Layers:

- selector / conditions / tokenizer / matcher / dom / extract: the
  per-document engine (pure Python + numpy, no Spark dependency) used
  inside Arrow batches;
- pipeline: the distributed extraction pipeline over interleaved
  text+media span documents (doc_id, spans) -> ordered output spans
  (doc_id, order, kind, text, media_ref);
- boilerplate: link-density / text-block main-content scoring;
- functions: corpus-level operators (dedup, similarity, text analysis);
- fixtures: deterministic synthetic span-document generator (seed=42).
"""

from .conditions import eval_conditions, loose_cmp
from .dom import PH
from .extract import (
    extract_element,
    extract_form,
    extract_html,
    extract_node,
    extract_table,
    prepare_post_form,
    to_plain,
    value_only,
)
from .selector import Atom, Compound, compile_selector
from .tokenizer import DocIndex, parse_attrs, trim_html

__version__ = "0.1.0"

__all__ = [
    "PH",
    "DocIndex",
    "Atom",
    "Compound",
    "compile_selector",
    "parse_attrs",
    "trim_html",
    "eval_conditions",
    "loose_cmp",
    "extract_html",
    "extract_node",
    "extract_element",
    "extract_table",
    "extract_form",
    "prepare_post_form",
    "value_only",
    "to_plain",
]
