"""Single-thread profiling harness for the per-document engine hot path
(assemble -> DocIndex -> main_content_spans), the per-core bill behind
extract_main / extract_page_full / extract_skew_routed / extract_exploded.

Usage:
    python tools/profile_engine.py [ndocs] [--cprofile]

--cprofile   dump cumulative cProfile over the full extraction loop (the
             default). Per-stage walls come from the traced replay of
             ``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import cProfile
import io
import pstats
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from parse_html_spark.boilerplate import main_content_spans  # noqa: E402
from parse_html_spark.fixtures import gen_doc  # noqa: E402
from parse_html_spark.pipeline import assemble  # noqa: E402
from parse_html_spark.tokenizer import DocIndex  # noqa: E402


def build_pairs(n: int):
    return [assemble(gen_doc(i)["spans"]) for i in range(n)]


def run_all(pairs):
    for h, m in pairs:
        main_content_spans(DocIndex(h), m)


def main() -> None:
    n = 2000
    for a in sys.argv[1:]:
        if a != "--cprofile":
            n = int(a)
    t0 = time.time()
    pairs = build_pairs(n)
    print(f"built {n} docs in {time.time() - t0:.1f}s", file=sys.stderr)

    run_all(pairs)  # warm
    pr = cProfile.Profile()
    pr.enable()
    run_all(pairs)
    pr.disable()
    s = io.StringIO()
    ps = pstats.Stats(pr, stream=s).sort_stats("cumulative")
    ps.print_stats(40)
    print(s.getvalue())


if __name__ == "__main__":
    main()
