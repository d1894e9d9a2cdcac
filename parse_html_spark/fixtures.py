"""Deterministic synthetic interleaved text+media span documents.

Generates the input table of BASELINE.json's input_hint:
(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>), seed=42,
log-normal sizes with a mega-doc tail (skew), boilerplate nav/footer/aside
blocks with high link density, one main-content region, tables, forms,
comments, void elements -- and NONE of the reference-bug divergence
constructs (SURVEY.md 2.11 A-quirks): no same-prefix nested tags, no
byte-identical sibling tables, no falsy mid-sibling text nodes.

Each document is generated from Random(seed * 1_000_003 + doc_i), so any
subset of doc ids can be produced independently and in parallel.
"""

from __future__ import annotations

import random

WORDS = (
    "the quick brown fox jumps over lazy dog spark engine query data "
    "table scan join merge sort filter window batch stream vector hash "
    "column row value key order group page content article story news "
    "report analysis system design model result test case number item"
).split()

MU, SIGMA = 7.2, 1.1
MIN_CHARS, MAX_CHARS = 200, 2_000_000
MEGA_EVERY = 500  # every 500th doc is a mega-doc (0.2% tail)
MEGA_MIN = 500_000


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _nav_block(rng: random.Random, tag: str, cls: str, n_links: int) -> str:
    links = " ".join(
        f'<a href="/{rng.choice(WORDS)}/{i}">{rng.choice(WORDS)} {rng.choice(WORDS)}</a>'
        for i in range(n_links)
    )
    return f'<{tag} class="{cls}">{links}</{tag}>'


def _table(rng: random.Random, ti: int) -> str:
    rows = []
    for r in range(rng.randint(1, 3)):
        cells = "".join(
            f"<td>{_sentence(rng, 2)} r{r}c{c}t{ti}</td>" for c in range(rng.randint(1, 3))
        )
        rows.append(f"<tr>{cells}</tr>")
    return f'<table class="data t{ti}">{"".join(rows)}</table>'


def _form(rng: random.Random, fi: int) -> str:
    inputs = "".join(
        f'<input type="text" name="f{fi}_{k}" value="{rng.choice(WORDS)}">'
        for k in range(rng.randint(1, 3))
    )
    return f'<form action="/post{fi}">{inputs}<input type="submit" name="go" value="Send"></form>'


def build_doc_html(doc_i: int, rng: random.Random, target_chars: int) -> tuple[str, list[int]]:
    """Returns (html, media_slots) where media_slots are char positions
    (in the final html string) suitable as input-media interleave points
    (all inside the main-content region)."""
    title = _sentence(rng, rng.randint(3, 6))
    head = f"<html><head><title>{title}</title></head><body>"
    nav = _nav_block(rng, "nav", "menu top", rng.randint(4, 10))
    header = f'<header class="site"><h1>{_sentence(rng, 3)}</h1></header>'

    # main region: paragraphs until target size
    parts: list[str] = []
    media_marks: list[int] = []  # index into parts AFTER which a media slot sits
    approx = 0
    pi = 0
    while approx < target_chars:
        roll = rng.random()
        if roll < 0.78:
            depth_cls = rng.choice(["intro", "body", "detail"])
            sent = _sentence(rng, rng.randint(8, 26))
            inline = ""
            if rng.random() < 0.25:
                inline = f" <b>{rng.choice(WORDS)}</b> {rng.choice(WORDS)}"
            if rng.random() < 0.10:
                inline += f' <a href="/ref/{pi}">{rng.choice(WORDS)}</a>'
            parts.append(f'<p class="{depth_cls}" data-p="{pi}">{sent}{inline}.</p>')
        elif roll < 0.85:
            items = "".join(
                f"<li>{_sentence(rng, rng.randint(2, 6))}</li>"
                for _ in range(rng.randint(2, 5))
            )
            parts.append(f"<ul>{items}</ul>")
        elif roll < 0.90:
            parts.append(_table(rng, pi))
        elif roll < 0.93:
            parts.append(f"<!-- block {pi} -->")
        elif roll < 0.96:
            parts.append(
                f'<img src="media://img-{doc_i}-{pi}" alt="{rng.choice(WORDS)}">'
            )
        else:
            parts.append(f"<blockquote>{_sentence(rng, rng.randint(6, 14))}</blockquote>")
            if rng.random() < 0.3:
                media_marks.append(len(parts))
        approx += len(parts[-1])
        pi += 1

    main_inner = "\n".join(parts)
    aside = _nav_block(rng, "aside", "related", rng.randint(3, 8))
    footer = _nav_block(rng, "footer", "bottom", rng.randint(3, 8))
    form = _form(rng, 0) if rng.random() < 0.3 else ""

    # nesting wrapper depth 2-12
    depth = rng.randint(0, 6)
    open_wrap = "".join(f'<div class="wrap w{k}">' for k in range(depth))
    close_wrap = "</div>" * depth

    html = (
        head
        + nav
        + header
        + open_wrap
        + f'<article class="main" id="content-{doc_i}">\n'
        + main_inner
        + "\n</article>"
        + close_wrap
        + form
        + aside
        + footer
        + "</body></html>"
    )

    # char positions for input-media interleave: after each marked part,
    # located inside the article body
    slots: list[int] = []
    if media_marks:
        base = html.index(main_inner)
        upto = 0
        joined = main_inner
        for mark in media_marks:
            prefix = "\n".join(parts[:mark])
            slots.append(base + len(prefix))
        del joined, upto
    return html, slots


def gen_doc(doc_i: int, seed: int = 42) -> dict:
    rng = random.Random(seed * 1_000_003 + doc_i)
    target = int(rng.lognormvariate(MU, SIGMA))
    if doc_i % MEGA_EVERY == 0 and doc_i > 0:
        target = max(target, MEGA_MIN)
    target = max(MIN_CHARS, min(MAX_CHARS, target))
    html, slots = build_doc_html(doc_i, rng, target)

    # split html into 1-4 text spans; media spans at slot positions
    cut_points = sorted(set(slots))
    spans = []
    prev = 0
    for k, cut in enumerate(cut_points):
        if cut <= prev or cut >= len(html):
            continue
        spans.append(
            {"kind": "text", "text": html[prev:cut], "media_ref": None, "offset": prev}
        )
        spans.append(
            {
                "kind": rng.choice(["img", "embed"]),
                "text": "",
                "media_ref": f"media://ext-{doc_i}-{k}",
                "offset": cut,
            }
        )
        prev = cut
    spans.append(
        {"kind": "text", "text": html[prev:], "media_ref": None, "offset": prev}
    )
    n_chars = sum(len(s["text"]) for s in spans if s["kind"] == "text")
    return {"doc_id": f"doc-{doc_i:08d}", "spans": spans, "n_chars": n_chars}


def _arrow_schema():
    import pyarrow as pa

    span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    # n_chars is the INGEST-TIME document size column: downstream skew
    # routing (pipeline.prepare_partitions) filters on it as a pushed-down
    # parquet predicate instead of re-deriving sizes from span payloads
    return pa.schema(
        [
            ("doc_id", pa.string()),
            ("spans", span_type),
            ("n_chars", pa.int64()),
        ]
    )


def _gen_chunk(args):
    start, n, seed = args
    ids, spans, nchars = [], [], []
    for i in range(start, start + n):
        d = gen_doc(i, seed)
        ids.append(d["doc_id"])
        spans.append(
            [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in d["spans"]
            ]
        )
        nchars.append(d["n_chars"])
    return ids, spans, nchars


def write_corpus_parquet(
    path: str,
    n: int,
    seed: int = 42,
    rows_per_group: int = 512,
    start: int = 0,
    procs: int | None = None,
) -> None:
    """Write the span-doc corpus with pyarrow (no Spark needed); multiple
    row groups so Spark can split the scan. Generation is per-doc
    seeded, so chunks are produced in parallel and written in order."""
    import multiprocessing as mp

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _arrow_schema()
    writer = pq.ParquetWriter(path, schema)
    if procs is None:
        procs = min(16, mp.cpu_count()) if n >= 4096 else 1
    chunks = [
        (start + k, min(rows_per_group, n - k), seed)
        for k in range(0, n, rows_per_group)
    ]
    def _write(ids, spans, nchars):
        # SIZE-CLUSTERED LAYOUT: megas get their own single-row row
        # groups (document order preserved by splitting at mega rows).
        # Row-group n_chars stats then make the skew split in
        # prepare_partitions a TRUE pruning predicate: the small branch
        # never touches mega span bytes and the mega branch reads only
        # the single-row groups -- each input byte is scanned exactly
        # once across both branches. This is the parquet stand-in for an
        # Iceberg sort-order/size-clustering ingest spec.
        cut = [k for k, c in enumerate(nchars) if c > MEGA_MIN]
        bounds = sorted({0, len(ids), *cut, *[k + 1 for k in cut]})
        for lo, hi in zip(bounds, bounds[1:]):
            writer.write_table(
                pa.table(
                    {
                        "doc_id": ids[lo:hi],
                        "spans": spans[lo:hi],
                        "n_chars": nchars[lo:hi],
                    },
                    schema=schema,
                )
            )

    if procs > 1:
        with mp.Pool(procs) as pool:
            for ids, spans, nchars in pool.imap(_gen_chunk, chunks, chunksize=4):
                _write(ids, spans, nchars)
    else:
        for ch in chunks:
            ids, spans, nchars = _gen_chunk(ch)
            _write(ids, spans, nchars)
    writer.close()


def write_flat_span_file(rows, path: str) -> None:
    """One FLAT parquet file of single-text-span docs via pyarrow
    (rows: iterable of (doc_id, text)). Spark writes directories,
    which the streaming file source's flat listing skips silently, and
    one file = one availableNow micro-batch, which makes first-seen /
    stored-first ordering rules deterministic. Package-side (not in
    the entry harness) so executor-side fixture writers can import it
    by reference."""
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
    rows = list(rows)
    ids = pa.array([r[0] for r in rows], type=pa.string())
    spans = pa.array(
        [
            [{"kind": "text", "text": r[1], "media_ref": None, "offset": 0}]
            for r in rows
        ],
        type=span_t,
    )
    pq.write_table(pa.table({"doc_id": ids, "spans": spans}), path)
