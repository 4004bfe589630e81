"""The pipeline workload: sweeps over the headline registry operators.

Each operator is built with ``HarnessQuery.raw_fn`` (no registry plan
cache) and materialized in full through :func:`full_sink`, which hashes
every output column so Catalyst cannot prune any of them. Before the
timed sweeps, each operator's full output is checked against its DuckDB
oracle.
"""

from __future__ import annotations

import time

# one operator per family: joins, aggregation, windows, dedup,
# similarity, text, sessionization, closure, SPARQL
HEADLINE = [
    "bgp_join_chain",
    "q1_pricing_summary",
    "top_k_orders",
    "anti_join_no_orders",
    "optional_left_join",
    "window_rank_orders",
    "graph_transitive_closure",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "sparql_bgp_region_rollup",
    "text_quality",
    "text_fingerprint",
    "events_sessionize",
    "events_tumbling",
]

# pipeline data size: datagen scale 1.0 is 60k line items
SCALE = 0.25


def full_sink(df):
    """A one-row DataFrame whose value depends on every column of every
    row of ``df``: the sum of the low 32 bits of a 64-bit hash over all
    columns (order-insensitive, and cannot overflow)."""
    import pyspark.sql.functions as F

    cols = []
    for name, kind in df.dtypes:
        c = F.col(f"`{name}`")
        # map columns cannot be hashed; their JSON text can
        cols.append(F.to_json(c) if kind.startswith("map<") else c)
    h = F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))
    return df.select(h.alias("h")).agg(F.sum("h").alias("h"))


def layer(name: str) -> str:
    from dublin_smart_city_graphdb_spark import harness

    return harness.REGISTRY[name].raw_fn.__module__.replace(
        "dublin_smart_city_graphdb_spark.", ""
    )


class PipelineBench:
    def __init__(self, spark, data_dir: str, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.samples: dict[str, list[dict]] = {name: [] for name in HEADLINE}

    def load_quads(self) -> tuple[int, float]:
        """RDF-ize the relational tables into the SPARQL gate's quad store
        (the engine's loaded state for SPARQL operators): (quads, s)."""
        from dublin_smart_city_graphdb_spark.harness.sparql_gate import _quads

        t0 = time.perf_counter()
        n = _quads(self.spark, self.data_dir).count()
        return n, time.perf_counter() - t0

    def run_one(self, name: str) -> dict:
        from dublin_smart_city_graphdb_spark import harness
        from dublin_smart_city_graphdb_spark.harness import sparql_gate

        t = self.tracer
        mod = layer(name)
        if mod == "harness.sparql_gate":
            # the gate keeps its own compiled-plan cache; a sweep times
            # parse and compile like the other operators' plan builds
            sparql_gate._PLAN_CACHE.clear()
        with t.span("harness.op", jobs=True) as op:
            t0 = time.perf_counter()
            with t.span(f"{mod}.build", jobs=True):
                df = harness.REGISTRY[name].raw_fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            with t.span(f"{mod}.exec", jobs=True):
                sink = full_sink(df)
                if t.enabled:
                    with t.span("catalyst.plan"):
                        sink._jdf.queryExecution().executedPlan()
                sink.collect()
            t2 = time.perf_counter()
            if op is not None:
                op.extra["op"] = name
        return {"build": t1 - t0, "exec": t2 - t1, "s": t2 - t0}

    def measure(self, deadline: float) -> int:
        """Run the operators round-robin: one full sweep, then on until
        the deadline. Returns the number of operator runs."""
        i = 0
        while i < len(HEADLINE) or time.perf_counter() < deadline:
            name = HEADLINE[i % len(HEADLINE)]
            self.samples[name].append(self.run_one(name))
            i += 1
        return i

    def verify(self) -> list[str]:
        """Compare every operator's full output with its DuckDB oracle;
        returns one line per operator that differs or fails."""
        import check_oracle
        from dublin_smart_city_graphdb_spark import harness

        con = check_oracle.duck_connection(self.data_dir)
        failures = []
        for name in HEADLINE:
            q = harness.REGISTRY[name]
            try:
                res = check_oracle.compare(
                    name, self.spark, con, self.data_dir, q.raw_fn, q.oracle
                )
                ok, msg = res.ok, res.msg
            except Exception as ex:  # noqa: BLE001 — counted as a failure
                ok, msg = False, f"{type(ex).__name__}: {ex}"
            if not ok:
                failures.append(f"{name}: {msg}")
        con.close()
        return failures
