"""Tokenizer parity + timing harness for engine optimization passes.

    python tools/tok_parity.py snapshot [n]   # pickle current internals
    python tools/tok_parity.py check [n]      # byte-parity vs snapshot + wall

Parity covers EVERY DocIndex internal consumers touch: tag, start/end/
cstart/cend/parent/depth, text regions, attr maps (forced), plus
main_content_spans output and the page JSON of ``pipeline._page_doc``
(``tables_json``, ``form_json``, ``title``), so the table scan and the
tree -> JSON writer of extract_page are pinned byte for byte too.
"""

from __future__ import annotations

import pickle
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from parse_html_spark.boilerplate import main_content_spans  # noqa: E402
from parse_html_spark.fixtures import gen_doc  # noqa: E402
from parse_html_spark.pipeline import _page_doc, assemble  # noqa: E402
from parse_html_spark.tokenizer import DocIndex  # noqa: E402

SNAP = "/tmp/tok_parity_snapshot.pkl"


def capture(html: str, media) -> dict:
    d = DocIndex(html)
    page = _page_doc(DocIndex(html), media)
    return {
        "tag": list(d.tag),
        "start": list(d.start_l),
        "end": list(d.end_l),
        "cstart": list(d.cstart_l),
        "cend": list(d.cend_l),
        "parent": list(d.parent_l),
        "depth": list(d.depth_l),
        "tstart": list(d.tstart_l),
        "tend": list(d.tend_l),
        "attrs": [d.attrs(i) for i in range(d.n)],
        "attrs_v": [d.attrs(i, validate=True) for i in range(d.n)],
        "spans": main_content_spans(d, media),
        "page": {k: page[k] for k in ("tables_json", "form_json", "title")},
    }


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "check"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
    pairs = [assemble(gen_doc(i)["spans"]) for i in range(n)]
    # a few synthetic nasties beyond the fixture mix
    extra = [
        ("", []),
        ("plain text only, no tags < 3 > oops", []),
        ("<div><p>a<br>b</p><img src=x></div><//junk>", [(2, "m")]),
        ("<a href='q'>l</a><A HREF=2>u</A><div >sp</div >", []),
        ("<b><i>unclosed<table><tr><td>c", []),
        ("<!doctype html><?pi x?><!-- c --><p id=1 id=2 0=z>t</p>", []),
        ("<div" + " data-x=1" * 200 + ">wide</div>", []),
        ("<p>" + "x" * 10000 + "</p>", [(5, "mm")]),
    ]
    pairs += extra

    if mode == "snapshot":
        snap = [capture(h, m) for h, m in pairs]
        with open(SNAP, "wb") as f:
            pickle.dump((n, snap), f)
        print(f"snapshot: {len(pairs)} docs -> {SNAP}")
        return

    with open(SNAP, "rb") as f:
        sn, snap = pickle.load(f)
    assert sn == n, f"snapshot built with n={sn}, run with n={n}"
    bad = 0
    for i, ((h, m), want) in enumerate(zip(pairs, snap)):
        got = capture(h, m)
        if got != want:
            bad += 1
            for k in want:
                if got[k] != want[k]:
                    print(f"doc {i}: MISMATCH in {k}")
                    print(f"  want: {str(want[k])[:200]}")
                    print(f"  got:  {str(got[k])[:200]}")
            if bad > 3:
                sys.exit(1)
    if bad:
        sys.exit(1)
    print(f"parity OK over {len(pairs)} docs")

    best = float("inf")
    for _ in range(5):
        t0 = time.time()
        for h, _m in pairs:
            DocIndex(h)
        best = min(best, time.time() - t0)
    print(f"DocIndex wall best-of-5: {best:.3f}s ({len(pairs)} docs)")
    best_full = float("inf")
    for _ in range(5):
        t0 = time.time()
        for h, m in pairs:
            main_content_spans(DocIndex(h), m)
        best_full = min(best_full, time.time() - t0)
    print(f"full extract wall best-of-5: {best_full:.3f}s")


if __name__ == "__main__":
    main()
