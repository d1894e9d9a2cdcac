"""In-process interleaved A/B engine timing.

Loads the engine (tokenizer + boilerplate) from two checkouts under
isolated module names and times both inside ONE process. Each round
walks the docs in chunks of about 1/40 of them (50 of the default
2,000, 3 of the 128 deep docs) and times A and B on every chunk, the
first side alternating chunk by chunk; a round's A and B are the sums of
its chunk times. So both sides sample the same host-throttle state a few
milliseconds apart: whole ~1 s passes, alternated, still read per-round
A/B from 0.78 to 1.35 on unchanged code on a host that throttles its
clocks, and subprocess-level interleaving was dominated by the host's
multi-minute clock windows.

    python tools/ab_inproc.py <dir_A> <dir_B> [rounds] [ndocs] [--page|--select[=SEL]...] [--deep]

By default a pass times a fresh ``DocIndex`` plus
``boilerplate.main_content_columns``, the engine work of
``pipeline._compact_doc``, on the fixture mix.

``--deep`` times the benchmark's ``deep_nesting`` corpus (seed 1: normal
pages with the article nested 64..4096 divs deep, built by
``perfbench/corpus.deep_doc``; ndocs defaults to its 128 docs) instead
of the fixture mix, so depth-bound layer deltas reproduce
single-threaded.

``--page`` times ``pipeline._page_doc`` on a fresh ``DocIndex``: the
whole per-document work of ``extract_page``, up to the output columns.
Every mode first checks that both engines give the same output on the
first 200 documents.

``--select`` times the ``selector_fields`` per-doc work instead: a fresh
``DocIndex`` plus ``find_nodes`` and the text values for each of
``perfbench/replay.SELECTORS``, as ``select_spans_multi(mode='text')``
does. Each
``--select=SEL`` times the selector SEL instead (repeatable), e.g.
``--select=.a`` for a one-character needle that fills the text.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import statistics
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from parse_html_spark.fixtures import gen_doc  # noqa: E402
from parse_html_spark.pipeline import assemble  # noqa: E402
from perfbench.corpus import DEEP_DOCS, deep_depths, deep_doc  # noqa: E402
from perfbench.replay import SELECTORS  # noqa: E402


def load_engine(root: str, name: str, page: bool = False, select=()):
    pkg_dir = os.path.join(root, "parse_html_spark")
    spec = importlib.util.spec_from_file_location(
        name,
        os.path.join(pkg_dir, "__init__.py"),
        submodule_search_locations=[pkg_dir],
    )
    pkg = importlib.util.module_from_spec(spec)
    sys.modules[name] = pkg
    spec.loader.exec_module(pkg)
    tok = importlib.import_module(name + ".tokenizer")
    boil = importlib.import_module(name + ".boilerplate")
    if select:
        sel = importlib.import_module(name + ".selector")
        mat = importlib.import_module(name + ".matcher")
        plans = [sel.compile_selector(s) for s in select]

        def select_fn(doc, _m):
            scopes = [(0, len(doc.html))]
            return [
                [doc.text_between(doc.start_l[k], doc.end_l[k]) for k in ids]
                for ids in (mat.find_nodes(doc, p, scopes) for p in plans)
            ]

        return tok.DocIndex, select_fn
    if not page:
        return tok.DocIndex, boil.main_content_columns
    return tok.DocIndex, importlib.import_module(name + ".pipeline")._page_doc


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    page = "--page" in sys.argv
    select = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--select=")]
    if not select and "--select" in sys.argv:
        select = list(SELECTORS.values())
    deep = "--deep" in sys.argv
    a_dir, b_dir = args[0], args[1]
    rounds = int(args[2]) if len(args) > 2 else 8
    n = int(args[3]) if len(args) > 3 else (DEEP_DOCS if deep else 2000)
    di_a, mcs_a = load_engine(a_dir, "phs_a", page, select)
    di_b, mcs_b = load_engine(b_dir, "phs_b", page, select)
    if deep:
        depths = deep_depths(1, n)
        pairs = [assemble(deep_doc(i, 1, depths[i])[1]) for i in range(n)]
    else:
        pairs = [assemble(gen_doc(i)["spans"]) for i in range(n)]

    def run(di, mcs, chunk) -> float:
        t0 = time.perf_counter()
        for h, m in chunk:
            mcs(di(h), m)
        return time.perf_counter() - t0

    # parity spot check: identical output from both engines
    for h, m in pairs[:200]:
        assert mcs_a(di_a(h), m) == mcs_b(di_b(h), m)

    run(di_a, mcs_a, pairs)
    run(di_b, mcs_b, pairs)  # warm both
    step = max(1, round(n / 40))
    chunks = [pairs[k:k + step] for k in range(0, n, step)]
    ratios = []
    for r in range(rounds):
        res = {"a": 0.0, "b": 0.0}
        for k, chunk in enumerate(chunks):
            for side in ("ab", "ba")[(r + k) % 2]:
                if side == "a":
                    res["a"] += run(di_a, mcs_a, chunk)
                else:
                    res["b"] += run(di_b, mcs_b, chunk)
        ratios.append(res["a"] / res["b"])
        print(
            f"round {r} A={res['a']:.3f}s B={res['b']:.3f}s "
            f"A/B={ratios[-1]:.3f}",
            flush=True,
        )
    print(
        f"median A/B over {rounds} rounds: {statistics.median(ratios):.3f} "
        f"(>1 means B faster)"
    )


if __name__ == "__main__":
    main()
