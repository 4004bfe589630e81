"""Per-layer metrics of a traced run, and the trace file it leaves.

Self time of a span is its duration minus that of its direct children.
For an HTTP request the client-side round trip is the root; the HTTP
layer's own time is the round trip minus the server-side engine call.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

# reported by every traced run, on every workload (unit, meaning)
PER_LAYER = {
    "sparql.parser.parse_ms": "ms",
    "sparql.compiler.compile_ms": "ms",
    "catalyst.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "engine.plan_cache_hit_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "protocol_http.response_bytes": "bytes",
    "sparql.protocol.rows_out": "count",
    "inference.inferred_quads": "count",
    "inference.dred.jobs": "count",
    "sources.store.bytes_written": "bytes",
    "sources.store.write_amplification": "ratio",
    "sources.store.files": "count",
    "harness.relational.tasks": "count",
    "harness.relational.shuffle_bytes": "bytes",
    "harness.pipeline.tasks": "count",
    "harness.pipeline.shuffle_bytes": "bytes",
    "harness.sparql_gate.tasks": "count",
    "harness.sparql_gate.shuffle_bytes": "bytes",
    "graph.closure.tasks": "count",
    "graph.closure.shuffle_bytes": "bytes",
}

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "shuffle_read_bytes")


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _tree(spans):
    kids = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)
    return kids


def _subtree(root, kids):
    out, todo = [], [root]
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(kids.get(sp.id, ()))
    return out


def _layers(spans) -> dict[str, float]:
    """Self ms per span name, plus the Spark counters of all spans."""
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        out[sp.name] += sp.self_s * 1000.0
        for c in COUNTERS:
            out[f"spark.{c}"] += sp.extra.get(c, 0)
    return out


def _summary(per_unit: list[dict]) -> dict:
    names = sorted({k for u in per_unit for k in u})
    return {
        k: {"mean": _mean(u.get(k, 0.0) for u in per_unit),
            "p50": _p50(u.get(k, 0.0) for u in per_unit)}
        for k in names
    }


def _requests(spans, kids):
    """req id → (client span, engine.call span or None, engine subtree)."""
    client = {sp.req: sp for sp in spans if sp.name == "protocol_http.request"}
    calls = {sp.req: sp for sp in spans if sp.name == "engine.call"}
    out = {}
    for req, c in client.items():
        call = calls.get(req)
        out[req] = (c, call, _subtree(call, kids) if call else [])
    return out


def sparql_layers(res, tracer) -> tuple[dict, dict]:
    bench = res["bench"]
    spans = tracer.spans
    kids = _tree(spans)
    reqs = _requests(spans, kids)
    kind = {s["req"]: "read" for s in bench.samples}
    sizes = {s["req"]: len(s["body"]) for s in bench.samples}
    for c in bench.commits:
        for k in ("append", "delete"):
            kind[c[k]["req"]] = k

    units: dict[str, list[dict]] = {"read": [], "append": [], "delete": []}
    coverage = []
    lookups = hits = 0
    for req, (client, call, sub) in reqs.items():
        k = kind.get(req)
        if k is None:
            continue
        lay = _layers(sub)
        lay["engine.other_ms"] = lay.pop("engine.call", 0.0)
        http = (client.dur - (call.dur if call else 0.0)) * 1000.0
        lay["protocol_http.self_ms"] = http
        lay["round_trip_ms"] = client.dur * 1000.0
        for sp in sub:
            if sp.name == "engine.plan_cache":
                lookups += 1
                hits += bool(sp.extra.get("hit"))
            if sp.name == "sparql.protocol.serialize":
                lay["sparql.protocol.rows_out"] += sp.extra.get("rows", 0)
            if sp.name == "sources.turtle":
                lay["sources.turtle.rows"] += sp.extra.get("rows", 0)
            if sp.name == "inference.dred.retract":
                lay["inference.dred.jobs"] += sp.extra.get("jobs", 0)
        if k == "read":
            lay["protocol_http.response_bytes"] = sizes[req]
            named = sum(sp.self_s for sp in sub if sp.name != "engine.call")
            coverage.append((named * 1000.0 + http) / lay["round_trip_ms"])
        units[k].append(lay)

    reads = units["read"]
    detail = {
        "reads": {"n": len(reads), "layers_per_request": _summary(reads),
                  "coverage_p50": _p50(coverage)},
        "appends": {"n": len(units["append"]),
                    "layers_per_commit": _summary(units["append"])},
        "deletes": {"n": len(units["delete"]),
                    "layers_per_commit": _summary(units["delete"])},
        "plan_cache": {"lookups": lookups, "hits": hits},
    }
    # the initial bulk load runs before the timed window, traced
    load = [sp for sp in spans if sp.req == res.get("load_req")]
    if load:
        lay = _layers(load)
        rows = sum(sp.extra.get("rows", 0) for sp in load
                   if sp.name == "sources.turtle")
        detail["load"] = {
            **lay,
            "sources.turtle.quads_per_s": rows / max(
                1e-9, lay.get("sources.turtle", 0.0) / 1000.0
            ),
        }

    shapes = [c[k] for c in bench.commits for k in ("append", "delete")]
    metrics = {
        "sparql.parser.parse_ms": _mean(u.get("sparql.parser", 0.0) for u in reads),
        "sparql.compiler.compile_ms": _mean(
            u.get("sparql.compiler", 0.0) for u in reads),
        "catalyst.plan_ms": _mean(u.get("catalyst.plan", 0.0) for u in reads),
        "spark.exec_ms": _mean(u.get("spark.exec", 0.0) for u in reads),
        "engine.plan_cache_hit_ratio": hits / lookups if lookups else 0.0,
        **{f"spark.{c}": _mean(u.get(f"spark.{c}", 0) for u in reads)
           for c in COUNTERS},
        "protocol_http.response_bytes": _mean(
            u["protocol_http.response_bytes"] for u in reads),
        "sparql.protocol.rows_out": _mean(
            u.get("sparql.protocol.rows_out", 0) for u in reads),
        "inference.inferred_quads": bench.base_count - bench.explicit_quads,
        "inference.dred.jobs": _mean(
            u.get("inference.dred.jobs", 0) for u in units["delete"]),
        "sources.store.bytes_written": _mean(s["bytes_written"] for s in shapes),
        "sources.store.write_amplification": _mean(
            s["bytes_written"] / s["body_bytes"] for s in shapes),
        "sources.store.files": shapes[-1]["files"] if shapes else 0,
    }
    return metrics, detail


def pipeline_layers(res, tracer) -> tuple[dict, dict]:
    spans = tracer.spans
    kids = _tree(spans)
    ops = [sp for sp in spans if sp.name == "harness.op"]
    per_op: dict[str, list[dict]] = defaultdict(list)
    units = []
    for op in ops:
        lay = _layers(_subtree(op, kids))
        per_op[op.extra["op"]].append(lay)
        units.append(lay)
    metrics = {
        "sparql.parser.parse_ms": _mean(u.get("sparql.parser", 0.0) for u in units),
        "sparql.compiler.compile_ms": _mean(
            u.get("sparql.compiler", 0.0) for u in units),
        "catalyst.plan_ms": _mean(u.get("catalyst.plan", 0.0) for u in units),
        "spark.exec_ms": _mean(
            sum(v for k, v in u.items() if k.endswith(".exec")) for u in units),
        **{f"spark.{c}": _mean(u.get(f"spark.{c}", 0) for u in units)
           for c in COUNTERS},
    }
    # per sweep: each operator once, at its mean over its runs. Jobs are
    # charged to the innermost span, so an operator's build excludes the
    # closure fixpoint it calls.
    by_layer: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for op in ops:
        n = len(per_op[op.extra["op"]])
        for sp in _subtree(op, kids):
            if sp.name == "graph.closure":
                layer, phase = sp.name, "build"
            elif sp.name.startswith("harness.") and sp.name != "harness.op":
                layer, _, phase = sp.name.rpartition(".")
            else:
                continue
            by_layer[layer][f"{phase}_ms"] += sp.self_s * 1000.0 / n
            for c in ("tasks", "shuffle_bytes"):
                by_layer[layer][c] += sp.extra.get(c, 0) / n
    for layer in ("harness.relational", "harness.pipeline",
                  "harness.sparql_gate", "graph.closure"):
        for c in ("tasks", "shuffle_bytes"):
            metrics[f"{layer}.{c}"] = by_layer[layer][c]
    detail = {
        "runs": len(ops),
        "layers_per_sweep": {k: dict(v) for k, v in by_layer.items()},
        "operators": {name: _summary(v) for name, v in per_op.items()},
    }
    return metrics, detail


def per_layer(workload: str, res, tracer) -> tuple[dict, dict]:
    fn = pipeline_layers if workload == "pipeline_batch" else sparql_layers
    metrics, detail = fn(res, tracer)
    # a layer the workload never enters reads 0
    return {k: (metrics.get(k, 0), unit) for k, unit in PER_LAYER.items()}, detail


def write_trace(work: Path, ctx: dict, res, tracer, detail: dict) -> Path:
    """Spans, the per-layer breakdown and the run context, as one JSON
    file; the tracing overhead is the traced run's median request latency
    minus that of the last untraced run of the same workload and seed."""
    untraced = work / f"last-{ctx['workload']}-seed{ctx['seed']}.json"
    traced = res["metrics"].get("query_p50_ms")
    if untraced.exists() and traced is not None:
        base = json.loads(untraced.read_text())["metrics"].get("query_p50_ms")
        if base:
            detail["tracing_overhead_ms"] = traced[0] - base[0]
            detail["tracing_overhead_base"] = (
                "query_p50_ms of the last untraced run, same workload and seed"
            )
    detail["end_to_end_traced"] = res["metrics"]
    path = work / f"trace-{ctx['workload']}-seed{ctx['seed']}.json"
    work.mkdir(exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "context": ctx, "layers": detail, "info": res["info"],
            "spans": [sp.as_dict() for sp in tracer.spans],
        }, f, default=str)
    print(f"# trace written to {path}", file=sys.stderr)
    print("# layers " + json.dumps(detail, default=str)[:20000], file=sys.stderr)
    return path
