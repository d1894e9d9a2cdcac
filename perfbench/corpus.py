"""Seeded inputs of the benchmark and their reference digests.

Two corpora, both in the span-doc table layout the pipelines read
(doc_id, spans, n_chars):

- ``fixture``: ``parse_html_spark.fixtures.gen_doc`` documents
  (log-normal sizes, every 500th doc a >= 500k-char mega doc);
- ``deep``: normal-size ``fixtures.build_doc_html`` documents whose
  article is wrapped in D nested divs, D log-uniform over
  [DEEP_MIN, DEEP_MAX].

Generation and the reference digests (per-doc engine, no Spark) run in a
small spawn pool and are cached per seed under the cache directory; the
program under test only ever sees the written parquet file.
"""

from __future__ import annotations

import json
import math
import multiprocessing as mp
import os
import random

FIXTURE_DOCS = 3000
DEEP_DOCS = 128
DEEP_MIN, DEEP_MAX = 64, 4096
DEEP_MAX_CHARS = 100_000
MEGA_CHARS = 500_000

CORPUS_OF = {
    "selector_fields": "fixture",
    "full_page": "fixture",
    "deep_nesting": "deep",
}
SIZE_OF = {"fixture": FIXTURE_DOCS, "deep": DEEP_DOCS}
# parquet row groups are the unit scan splits are made of: small enough
# groups that one byte-sized split per core holds a balanced share of
# the work. deep_nesting's cost sits in a few docs, so its groups are
# smaller still
ROWS_PER_GROUP = {"fixture": 128, "deep": 4}


def deep_depths(seed: int, n: int) -> list[int]:
    """Nesting depth of each deep doc: log-uniform over [DEEP_MIN,
    DEEP_MAX], stratified, one seeded draw per 1/n quantile band. Bands
    are laid out in a fixed golden-ratio interleave, so every scan split
    holds a spread of depths whatever the seed: per-doc cost grows with
    depth squared, and seeded placement would move the straggler split's
    cost, and the job time, by ~10% from seed to seed."""
    rng = random.Random(f"deep-depths-{seed}")
    order = sorted(range(n), key=lambda i: (i * 0.6180339887498949) % 1.0)
    band = [0] * n
    for b, i in enumerate(order):
        band[i] = b
    lo, span = math.log(DEEP_MIN), math.log(DEEP_MAX / DEEP_MIN)
    return [round(math.exp(lo + span * (band[i] + rng.random()) / n)) for i in range(n)]


def deep_doc(i: int, seed: int, depth: int) -> tuple[str, list[dict]]:
    """(doc_id, spans) of a normal-size fixture page with its article
    nested ``depth`` divs deep."""
    from parse_html_spark import fixtures

    rng = random.Random(f"deep-{seed}-{i}")
    target = int(rng.lognormvariate(fixtures.MU, fixtures.SIGMA))
    target = max(fixtures.MIN_CHARS, min(DEEP_MAX_CHARS, target))
    html, slots = fixtures.build_doc_html(i, rng, target)
    a = html.index("<article")
    b = html.index("</article>") + len("</article>")
    opener = '<div class="nest">'
    html = html[:a] + opener * depth + html[a:b] + "</div>" * depth + html[b:]
    shift = len(opener) * depth  # media slots all sit inside the article
    spans = []
    prev = 0
    for k, cut in enumerate(sorted({s + shift for s in slots})):
        if prev < cut < len(html):
            spans.append(_span("text", html[prev:cut], None, prev))
            spans.append(_span("img", "", f"media://ext-{i}-{k}", cut))
            prev = cut
    spans.append(_span("text", html[prev:], None, prev))
    return f"deep-{i:06d}", spans


def _span(kind, text, media_ref, offset) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _doc(corpus: str, i: int, seed: int, depths) -> tuple[str, list[dict]]:
    from parse_html_spark.fixtures import gen_doc

    if corpus == "fixture":
        d = gen_doc(i, seed)
        return d["doc_id"], d["spans"]
    return deep_doc(i, seed, depths[i])


def _chunk(args):
    """Worker: generate docs [lo, hi); return their rows, their per-doc
    reference digests for ``workload`` (or None), or both."""
    from replay import doc_digest, workload_context

    corpus, seed, lo, hi, want_rows, workload = args
    ctx = workload_context(workload) if workload else None
    depths = deep_depths(seed, SIZE_OF["deep"]) if corpus == "deep" else None
    rows, digests = [], []
    for i in range(lo, hi):
        doc_id, spans = _doc(corpus, i, seed, depths)
        if want_rows:
            rows.append(
                (
                    doc_id,
                    [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans],
                    sum(len(s["text"]) for s in spans if s["kind"] == "text"),
                )
            )
        if workload:
            digests.append((doc_id, *doc_digest(workload, ctx, doc_id, spans)))
    return rows, digests


def _write_parquet(path: str, rows, rows_per_group: int) -> None:
    """Row groups of ``rows_per_group`` docs, each mega doc in a group of
    its own, so byte-sized scan splits spread the work over the cores."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    schema = pa.schema(
        [("doc_id", pa.string()), ("spans", span_t), ("n_chars", pa.int64())]
    )
    tmp = path + ".tmp"
    with pq.ParquetWriter(tmp, schema) as w:
        group: list = []

        def flush():
            if group:
                cols = list(zip(*group))
                w.write_table(
                    pa.table(
                        {"doc_id": cols[0], "spans": cols[1], "n_chars": cols[2]},
                        schema=schema,
                    )
                )
                group.clear()

        for r in rows:
            if r[2] > MEGA_CHARS:
                flush()
                group.append(r)
                flush()
                continue
            group.append(r)
            if len(group) == rows_per_group:
                flush()
        flush()
    os.replace(tmp, path)


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def prepare(cache_dir: str, workload: str, seed: int, procs: int) -> tuple[str, dict]:
    """Path of the workload's corpus parquet and its reference digests
    {doc_id: [rows, crc_sum]}, generated on first use per seed."""
    corpus = CORPUS_OF[workload]
    n = SIZE_OF[corpus]
    os.makedirs(cache_dir, exist_ok=True)
    data_path = os.path.join(cache_dir, f"{corpus}-{n}-s{seed}.parquet")
    ref_path = os.path.join(cache_dir, f"{workload}-{n}-s{seed}.ref.json")
    want_rows = not os.path.exists(data_path)
    want_ref = not os.path.exists(ref_path)
    if want_rows or want_ref:
        chunk = -(-n // (procs * 4))
        tasks = [
            (corpus, seed, lo, min(lo + chunk, n), want_rows,
             workload if want_ref else None)
            for lo in range(0, n, chunk)
        ]
        # spawn workers inherit sys.path, so they import this module and
        # replay the same way the parent did
        with mp.get_context("spawn").Pool(procs) as pool:
            parts = pool.map(_chunk, tasks, chunksize=1)
        if want_rows:
            _write_parquet(
                data_path,
                (r for rows, _d in parts for r in rows),
                ROWS_PER_GROUP[corpus],
            )
        if want_ref:
            ref = {d[0]: [d[1], d[2]] for _r, ds in parts for d in ds}
            _write_json(ref_path, ref)
    with open(ref_path) as fh:
        return data_path, json.load(fh)
