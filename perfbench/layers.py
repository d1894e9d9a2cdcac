"""Traced single-process replay of a workload and its per-layer metrics.

The replay runs every document of the workload's corpus through the
workload's per-doc call sequence (replay.DOC_FUNCS) twice: once plainly,
timing only the document's calls as a whole, and once with a span around
every layer call. The difference between the two is the tracing
overhead.
For the workloads that run main_content_spans, each document's
boilerplate sub-stages are then attributed by calling them again on the
same DocIndex (replay.boilerplate_stages), in a separate root span.
"""

from __future__ import annotations

import json
import statistics
import sys
from dataclasses import dataclass, field
from time import perf_counter_ns

import numpy as np

from parse_html_spark.tokenizer import TOKEN_RE

import replay
from tracing import Tracer

BOILERPLATE_WORKLOADS = {"full_page", "deep_nesting"}
STAGES = (
    "boilerplate.text_mass",
    "boilerplate.node_masses",
    "boilerplate.find_main_container",
    "boilerplate.pruned_ranges",
)

# per-layer metric -> span whose per-doc self time it reports
NS_PER_DOC = {
    "pipeline.assemble_ns_per_doc": "pipeline.assemble",
    "pipeline.emit_ns_per_doc": "pipeline.emit",
    "tokenizer.doc_index_ns_per_doc": "tokenizer.doc_index",
    "boilerplate.main_content_spans_ns_per_doc": "boilerplate.main_content_spans",
    "boilerplate.text_mass_ns_per_doc": "boilerplate.text_mass",
    "boilerplate.node_masses_ns_per_doc": "boilerplate.node_masses",
    "boilerplate.find_main_container_ns_per_doc": "boilerplate.find_main_container",
    "boilerplate.pruned_ranges_ns_per_doc": "boilerplate.pruned_ranges",
    "matcher.find_nodes_ns_per_doc": "matcher.find_nodes",
    "dom.find_ns_per_doc": "dom.find",
    "dom.text_ns_per_doc": "dom.text",
    "extract.table_list_ns_per_doc": "extract.table_list",
    "extract.form_ns_per_doc": "extract.form",
    "extract.json_ns_per_doc": "extract.json",
}


def load_docs(path: str) -> list[tuple[str, list[dict]]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "spans"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist()))


def container_depth(doc, lo: int, hi: int) -> int:
    """Tree depth of the main container (0 = the whole document)."""
    if doc.n == 0:
        return 0
    hit = np.flatnonzero((doc.cstart == lo) & (doc.cend == hi))
    return int(doc.depth_l[int(hit[-1])]) + 1 if len(hit) else 0


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0

    def write(self, path: str) -> None:
        t = self.tracer
        with open(path, "w") as fh:
            json.dump(
                {
                    "summary": self.summary,
                    "span_fields": ["name", "start_ns", "end_ns", "parent", "trace_id"],
                    "spans": list(zip(t.names, t.starts, t.ends, t.parents, t.traces)),
                },
                fh,
            )


def _wall_ns(fn, *args) -> int:
    t0 = perf_counter_ns()
    fn(*args)
    return perf_counter_ns() - t0


def _replay(workload, docs, ref, tracer):
    """Runs every doc's calls twice, plainly and traced, alternating which
    goes first so drift and cache warmth cancel, then the traced
    boilerplate attribution; returns per-doc facts and the plain runs'
    summed ns."""
    fn = replay.DOC_FUNCS[workload]
    fields = replay.FIELDS[workload]
    plain_ns = 0
    plain_ctx = replay.workload_context(workload)
    traced_ctx = replay.workload_context(workload, tracer.call)
    facts = []
    for k, (doc_id, spans) in enumerate(docs):
        f = {"ok": False, "rows": 0, "tokens": 0, "nodes": 0, "depth": 0}
        try:
            if k % 2:
                plain_ns += _wall_ns(fn, replay.plain_call, plain_ctx, doc_id, spans)
            rows, info = tracer.root("engine.doc", k, fn, tracer.call, traced_ctx, doc_id, spans)
            if not k % 2:
                plain_ns += _wall_ns(fn, replay.plain_call, plain_ctx, doc_id, spans)
            doc = info.pop("doc")
            if workload in BOILERPLATE_WORKLOADS:
                lohi = tracer.root(
                    "attrib.boilerplate", k, replay.boilerplate_stages, tracer.call, doc
                )
                f["depth"] = container_depth(doc, *lohi)
            digest = [len(rows), sum(replay.row_crc(fields, r) for r in rows)]
            f.update(info, ok=digest == ref.get(doc_id), rows=len(rows), nodes=doc.n)
            f["tokens"] = sum(1 for _ in TOKEN_RE.finditer(doc.html))
        except Exception as exc:  # noqa: BLE001 - a raising doc is counted, not fatal
            if not any(x.get("raised") for x in facts):
                print(f"doc {doc_id} raised: {exc!r}", file=sys.stderr, flush=True)
            f["raised"] = True
        facts.append(f)
    return facts, plain_ns


def replay_metrics(workload: str, docs, ref: dict) -> Result:
    tracer = Tracer()
    facts, plain_ns = _replay(workload, docs, ref, tracer)

    n = len(docs)
    self_ns = tracer.self_ns()
    per = tracer.per_trace()
    total = {name: sum(v.values()) for name, v in per.items()}
    docs_ns = [
        e - s for nm, s, e in zip(tracer.names, tracer.starts, tracer.ends) if nm == "engine.doc"
    ]
    docs_ms = sorted(ns / 1e6 for ns in docs_ns)
    compile_ns = [ns for nm, ns in zip(tracer.names, self_ns) if nm == "selector.compile"]

    def per_doc_median(name):
        v = per.get(name, {})
        return statistics.median(v.get(k, 0) for k in range(n))

    def count(key):
        return sum(f.get(key, 0) for f in facts)

    tokens = count("tokens")
    scanned = sum(f["nodes"] * f.get("plans", 0) for f in facts)
    m = {name: (per_doc_median(span), "ns") for name, span in NS_PER_DOC.items()}
    m.update(
        {
            "pipeline.out_rows_per_doc": (count("rows") / n, "rows/doc"),
            "tokenizer.ns_per_token": (total.get("tokenizer.doc_index", 0) / max(tokens, 1), "ns"),
            "tokenizer.tokens": (tokens, "count"),
            "boilerplate.spans_per_doc": (count("spans") / n, "spans/doc"),
            "boilerplate.container_depth_max": (max(f["depth"] for f in facts), "count"),
            "selector.compile_ns_per_call": (statistics.median(compile_ns) if compile_ns else 0, "ns"),
            "matcher.matches": (count("matches"), "count"),
            "matcher.match_ratio": (count("matches") / scanned if scanned else 0.0, "frac"),
            "extract.tables": (count("tables"), "count"),
            "extract.form_fields": (count("form_fields"), "count"),
            "engine.doc_ms_p50": (statistics.median(docs_ms), "ms"),
            "engine.doc_ms_p99": (float(np.percentile(docs_ms, 99)), "ms"),
            "engine.doc_ms_max": (docs_ms[-1], "ms"),
            "engine.doc_failures": (sum(1 for f in facts if f.get("raised")), "count"),
            "trace.overhead_frac": (sum(docs_ns) / plain_ns - 1, "frac"),
        }
    )
    shares = layer_shares(total)
    return Result(
        metrics=m,
        summary={"workload": workload, "docs": n, "layer_self_share": shares,
                 "checks": stress_checks(workload, shares)},
        tracer=tracer,
        attempted=n,
        failed=sum(1 for f in facts if not f["ok"]),
    )


def layer_shares(total: dict[str, int]) -> dict[str, float]:
    """Share of engine self time per layer. main_content_spans' self time
    is split over its sub-stages in the proportions the attribution
    calls measured; what they do not cover is boilerplate.emit."""
    engine = {
        name: ns for name, ns in total.items()
        if name not in STAGES and name not in ("attrib.boilerplate", "selector.compile")
    }
    table: dict[str, float] = {}
    for name, ns in engine.items():
        key = "engine.glue" if name == "engine.doc" else name
        if name.split(".")[0] in ("tokenizer", "matcher", "dom", "extract"):
            key = name.split(".")[0]
        table[key] = table.get(key, 0) + ns
    mcs = table.pop("boilerplate.main_content_spans", 0)
    if mcs:
        staged = sum(total.get(s, 0) for s in STAGES)
        scale = mcs / max(mcs, staged)
        for s in STAGES:
            table[s] = total.get(s, 0) * scale
        table["boilerplate.emit"] = mcs - staged * scale
    all_ns = sum(table.values()) or 1
    return {k: round(v / all_ns, 4) for k, v in sorted(table.items(), key=lambda kv: -kv[1])}


def stress_checks(workload: str, shares: dict[str, float]) -> dict[str, bool]:
    """Whether the workload stresses the layer it was built for."""
    boiler = sum(v for k, v in shares.items() if k.startswith("boilerplate."))
    largest = max(shares, key=shares.get) if shares else ""
    if workload == "selector_fields":
        return {"matcher largest": largest == "matcher", "boilerplate zero": boiler == 0}
    if workload == "full_page":
        return {"extract+dom >= 20%": shares.get("extract", 0) + shares.get("dom", 0) >= 0.2}
    return {"find_main_container largest": largest == "boilerplate.find_main_container"}
