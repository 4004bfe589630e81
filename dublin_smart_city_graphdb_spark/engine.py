"""Engine facade: repository catalog + load + SPARQL entry point.

Mirrors the reference deployment's operational surface (SURVEY.md §3):

- ``create_repository(name, ruleset=..., query_timeout=...)`` —
  ``init-graphdb.sh:44-72``'s POST /rest/repositories (idempotent, like the
  re-init path at ``init-graphdb.sh:145-154``);
- ``load_turtle`` / ``load_ntriples`` — the ``POST /statements`` Turtle bulk
  path (``init-graphdb.sh:90-119``), with load-time RDFS-Plus forward
  chaining when the repository's ruleset asks for it
  (``init-graphdb.sh:51-55``);
- ``sparql(query)`` — the query endpoint (``init-graphdb.sh:133-135``),
  parse → compile → Catalyst, with the reference's 30 s query timeout
  enforced via job-group cancellation;
- ``count()`` — the post-load verification query
  (``init-graphdb.sh:133``: ``SELECT (COUNT(*) as ?count) ...``).
"""

from __future__ import annotations

import contextvars
import json
import os
import threading
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from dublin_smart_city_graphdb_spark.inference.rdfsplus import _ID_COLS
from dublin_smart_city_graphdb_spark.model.schema import INFERRED_GRAPH, QUAD_SCHEMA
from dublin_smart_city_graphdb_spark.session import local_df
from dublin_smart_city_graphdb_spark.sources.store import QuadStore, snapshot_stats
from dublin_smart_city_graphdb_spark.sources.turtle import (
    read_ntriples_distributed,
    turtle_to_rows,
)
from dublin_smart_city_graphdb_spark.sparql.compiler import QueryCompiler
from dublin_smart_city_graphdb_spark.sparql.parser import parse_query


def _norm_ruleset(name: str | None) -> str:
    """Normalize GraphDB ruleset names (init-graphdb.sh posts
    ``rdfsplus-optimized``; the workbench offers ``-optimized`` variants
    and ``empty``) to the engine's four execution families. Unknown names
    fail loudly at create time, matching GraphDB's behavior."""
    n = (name or "none").lower()
    if n.endswith("-optimized"):
        n = n[: -len("-optimized")]
    n = {"empty": "none", "rdfs-plus": "rdfsplus"}.get(n, n)
    if n not in ("none", "rdfsplus", "owl-horst", "owl2-rl", "custom"):
        raise ValueError(f"unknown ruleset {name!r}")
    return n


def _id_key(field=F.col) -> Column:
    """Canonical string key of a statement's six identity columns (graph
    excluded; ``field(name)`` reads one): their JSON array text. Quoting,
    escaping and NULL (``null``, never the string ``"null"``) are Spark's
    own, so the key of a driver-resident row and of a stored row agree
    exactly when both come from this expression."""
    return F.to_json(F.array(*[field(c).cast("string") for c in _ID_COLS]))


def _key_in(spark: SparkSession, keys) -> Column:
    """``_id_key() IN keys`` as ONE ``In`` expression (``InSet`` after
    Catalyst's OptimizeIn), built in a constant number of Py4J calls: the
    keys cross the bridge as one NUL-joined string and are split in the
    JVM (JSON text never holds a raw NUL). ``Column.isin`` over a Python
    list pays two round trips per key."""
    jvm = spark._jvm
    parts = jvm.java.util.regex.Pattern.compile("\0").splitAsStream(
        "\0".join(keys)
    )
    return Column(_id_key()._jc.isin(jvm.PythonUtils.toSeq(parts.toList())))


#: Arrival time (``time.time()``) of the request served in this context,
#: set by the HTTP layer: query timeouts count from it, so parse and
#: compile are inside the deadline.
REQUEST_STARTED: contextvars.ContextVar[float | None] = contextvars.ContextVar(
    "request_started", default=None
)


#: The local properties ``SparkContext.setJobGroup`` sets on a thread.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)


def _cancel_group(sc, group: str) -> None:
    """Cancel a query's job group: its running jobs and every job it
    submits afterwards."""
    sc._jsc.sc().cancelJobGroupAndFutureJobs(group)


def _lazy(compute):
    """One-chunk iterator that calls ``compute()`` when first advanced."""
    yield compute()


class QueryAbortedError(RuntimeError):
    """Raised to the caller of a query that was aborted via the monitor
    (``Engine.abort_query`` / ``DELETE /rest/monitor/query/{id}``)."""


class Repository:
    def __init__(self, engine: Engine, name: str, config: dict):
        self.engine = engine
        self.spark = engine.spark
        self.name = name
        self.config = config
        self._quads: DataFrame | None = None
        # Write-path serialization: the HTTP facade is a threading server,
        # so two concurrent commits/loads would otherwise interleave their
        # read-modify-write of _quads (lost update). Readers stay lock-free
        # — they see either the pre- or post-commit DataFrame, never a
        # partial one (assignment is the single visibility switch). RLock
        # because _apply_ops/_ingest re-enter materialize_inference.
        self._write_lock = threading.RLock()
        # Statement-set version: bumped on every mutation; keys the plan
        # and star-view caches. (id(self._quads) is NOT a safe key — after
        # GC a new DataFrame can reuse the freed address and silently
        # serve a stale cached plan/view.)
        self._version: int = 0
        # (per-predicate counts, wkt_escape_free) — sources/store
        # snapshot_stats; dropped on every mutation
        self._pred_stats: tuple[dict[str, int], bool] | None = None
        self._plan_cache: dict[tuple, DataFrame] = {}
        # Star-view definitions (SURVEY §1.5 fast path): name →
        # (predicates, class_iri). Built lazily per statement-set version.
        self._star_view_defs: dict[str, tuple[tuple[str, ...], str | None]] = {}
        self._star_views_built: dict[str, tuple[int, DataFrame]] = {}
        # Namespace registry (RDF4J /namespaces resource): prefix → IRI.
        # Session-scoped client conveniences, not statement data.
        self.namespaces: dict[str, str] = {}
        # Parsed stored-shapes cache for validation-on-commit
        # (shacl_enforce): None = unknown (recollect from the shapes
        # graph on the next gated commit); [] = shapes graph empty.
        # Invalidated whenever a commit's delta touches the shapes graph.
        self._shapes_cache: list | None = None
        # owl2-rl incremental-append round-function cache (round 9):
        # building the RL rule table scans the full store (vocabulary
        # flags + list-axiom collection) but depends only on its SCHEMA
        # subset. {"round_fn": fn, "valid_at": version} — reused while
        # every intervening mutation is an instance-only append; any
        # other mutation leaves valid_at behind and the next append
        # rebuilds. See owl2rl.materialize_incremental(ctx=...).
        self._rl_ctx: dict = {}
        self._store = (
            QuadStore(
                self.spark,
                os.path.join(engine.warehouse, name, "quads"),
                bucket_subjects=config.get("bucket_subjects", 0),
            )
            if engine.warehouse
            else None
        )
        if self._store and self._store.exists():
            self._quads = self._store.read()

    # -- loading ------------------------------------------------------------
    def add_quads(self, df: DataFrame) -> None:
        with self._write_lock:
            self._shacl_gate_append(df)
            self._pred_stats = None
            self._version += 1
            self._publish(df, append=True)

    def _publish(self, df: DataFrame, append: bool = False) -> None:
        """Make ``df`` (store ∪ ``df`` when ``append``) the visible
        statement set. In memory, the checkpoint is coalesced to the
        pre-commit partition count — a narrow dependency, no shuffle — so
        repeated commits do not grow the partition count (every union
        adds the batch's partitions)."""
        if self._store:
            self._store.write(df, mode="append" if append else "overwrite")
            self._quads = self._store.read()
            return
        if self._quads is not None:
            n = self._quads.rdd.getNumPartitions()
            if append:
                df = self._quads.unionByName(df)
            df = df.coalesce(n)
        self._quads = df.localCheckpoint(eager=True)

    def load_turtle_text(self, text: str, graph: str | None = None) -> int:
        """Load a Turtle document given as TEXT — the entry point network
        handlers must use. Never touches the filesystem, so a request body
        that happens to equal a server-side path cannot trigger a local
        file read (ADVICE r3 LFI surface)."""
        rows = turtle_to_rows(text, graph)
        self._ingest_rows(rows)
        return len(rows)

    def load_turtle(self, source: str, graph: str | None = None) -> int:
        """Load a Turtle document (path or text) — SURVEY §2.1 S1.
        Path resolution is for trusted driver-side callers only; HTTP
        handlers go through :meth:`load_turtle_text`."""
        text = open(source).read() if os.path.exists(source) else source
        return self.load_turtle_text(text, graph)

    def load_jsonld_text(self, text: str, graph: str | None = None) -> int:
        """Load a JSON-LD document given as TEXT (network-safe twin of
        :meth:`load_jsonld` — see :meth:`load_turtle_text`)."""
        from dublin_smart_city_graphdb_spark.sources.jsonld import (
            jsonld_to_rows,
        )

        rows = jsonld_to_rows(text, graph, bnode_prefix=f"j{self._version}b")
        self._ingest_rows(rows)
        return len(rows)

    def load_jsonld(self, source: str, graph: str | None = None) -> int:
        """Load a JSON-LD document (path or text) — the RDF4J endpoint's
        ``application/ld+json`` import surface (S1). Expanded / flattened /
        simple-compact forms; see sources/jsonld.py for the exact subset.
        Path resolution is for trusted driver-side callers only; HTTP
        handlers go through :meth:`load_jsonld_text`."""
        text = open(source).read() if os.path.exists(source) else source
        return self.load_jsonld_text(text, graph)

    def load_trig_text(self, text: str, graph: str | None = None) -> int:
        """Load a TriG document given as TEXT — the ``application/trig``
        import surface of the GraphDB/RDF4J REST endpoint (S1). Named-graph
        blocks land in their own graphs; an explicit ``graph`` forces every
        statement into that graph (RDF4J explicit-context override)."""
        from dublin_smart_city_graphdb_spark.sources.turtle import (
            trig_to_rows,
        )

        rows = trig_to_rows(text, graph)
        self._ingest_rows(rows)
        return len(rows)

    def load_trig(self, source: str, graph: str | None = None) -> int:
        """Load a TriG document (path or text; trusted driver-side)."""
        text = open(source).read() if os.path.exists(source) else source
        return self.load_trig_text(text, graph)

    def load_rdfxml_text(self, text: str, graph: str | None = None) -> int:
        """Load an RDF/XML document given as TEXT — the
        ``application/rdf+xml`` import surface of the GraphDB/RDF4J REST
        endpoint (S1; the wire format the reference's engine accepts on
        ``/statements`` beyond the Turtle its own scripts post,
        init-graphdb.sh:91). See sources/rdfxml.py for the grammar subset."""
        from dublin_smart_city_graphdb_spark.sources.rdfxml import (
            rdfxml_to_rows,
        )

        rows = rdfxml_to_rows(text, graph, bnode_prefix=f"r{self._version}b")
        self._ingest_rows(rows)
        return len(rows)

    def load_rdfxml(self, source: str, graph: str | None = None) -> int:
        """Load an RDF/XML document (path or text; trusted driver-side)."""
        text = open(source).read() if os.path.exists(source) else source
        return self.load_rdfxml_text(text, graph)

    def _ingest_rows(self, rows: list) -> None:
        """Append a driver-resident batch with set semantics, as RDF4J's
        ``/statements`` is set-valued: a quad repeated in the batch lands
        once, and one already stored is dropped — found by ONE key probe
        of the store (``_held``), none on a first load."""
        with self._write_lock:
            batch: dict[tuple, tuple] = {}
            for r in rows:
                batch.setdefault(tuple(r[:7]), r)
            if batch and self._quads is not None:
                _, held = self._held(self.quads, [k[1:] for k in batch])
                for g, spo in held:
                    batch.pop((g, *spo), None)
                if not batch:
                    return
            rows = list(batch.values())
            self._ingest(local_df(self.spark, rows, QUAD_SCHEMA))

    def _held(
        self, quads: DataFrame, ids, limit: int | None = None
    ) -> tuple[dict[tuple, str], list[tuple]] | None:
        """Which graphs of ``quads`` hold each identity tuple of ``ids``:
        (the ``_id_key`` of each id, the matched (g, id) pairs), or None
        when more than ``limit`` quads match. Spark keys the ids itself:
        they cross Py4J as one JSON literal, and Catalyst folds the keying
        projection over a one-row local relation on the driver (no job).
        The one job is a key-filter scan of ``quads`` with Δ-sized output."""
        from pyspark.sql.types import ArrayType, StructType

        ids = list(dict.fromkeys(ids))
        tuples = F.from_json(
            F.lit(json.dumps([dict(zip(_ID_COLS, i)) for i in ids])),
            ArrayType(StructType(
                [f for f in QUAD_SCHEMA.fields if f.name in _ID_COLS]
            )),
        )
        key = dict(zip(ids, self.spark.sql("VALUES (1)").select(
            F.transform(tuples, lambda t: _id_key(t.getField))
        ).first()[0]))
        probe = quads.filter(_key_in(self.spark, key.values()))
        if limit is not None:
            probe = probe.limit(limit + 1)
        matched = probe.select("g", *_ID_COLS).collect()
        if limit is not None and len(matched) > limit:
            return None
        return key, [(m[0], tuple(m[1:])) for m in matched]

    def _ingest(self, new_df: DataFrame) -> None:
        """Append a batch, maintaining the inference closure INCREMENTALLY
        when the repository already holds statements: monotone RDFS-Plus
        rules let the fixpoint run seeded by the new batch (O(|Δ| ⋈
        schema) per append) instead of re-materializing the whole store —
        the write path that keeps working when the store is 100 TB. First
        load (or ruleset none) takes the plain path."""
        with self._write_lock:
            ruleset = _norm_ruleset(self.config.get("ruleset", "none"))
            incremental = ruleset in ("rdfsplus", "owl-horst", "owl2-rl")
            if not incremental or self._quads is None:
                # custom CONSTRUCT rulesets don't classify which body
                # pattern a delta feeds (user text, arbitrary shapes) —
                # they re-run the full fixpoint on append; the built-in
                # rulesets all have Δ-seeded paths below (rdfsplus via
                # its hand-woven _round seeding, owl-horst/owl2-rl via
                # the GRAPH-marker semi-naive variants of
                # inference/delta.py — r7 verdict task 4)
                self.add_quads(new_df)
                if ruleset != "none":
                    self.materialize_inference()
                return
            if ruleset == "rdfsplus":
                from dublin_smart_city_graphdb_spark.inference.rdfsplus import (
                    materialize_incremental,
                )

                inferred_new = materialize_incremental(self.quads, new_df)
            elif ruleset == "owl-horst":
                from dublin_smart_city_graphdb_spark.inference import horst

                inferred_new = horst.materialize_incremental(
                    self.spark, self.quads, new_df
                )
            else:
                from dublin_smart_city_graphdb_spark.inference import owl2rl
                from dublin_smart_city_graphdb_spark.inference.delta import (
                    touches_schema_extended,
                )

                # round-fn cache: valid only if built when the store was
                # at the CURRENT version (i.e. every mutation since the
                # build was one of these instance-only appends)
                if self._rl_ctx.get("valid_at") != self._version:
                    self._rl_ctx.pop("round_fn", None)
                schema_delta = touches_schema_extended(new_df)
                inferred_new = owl2rl.materialize_incremental(
                    self.spark, self.quads, new_df,
                    ctx=None if schema_delta else self._rl_ctx,
                )
                if not schema_delta and touches_schema_extended(
                    inferred_new
                ):
                    # the fixpoint DERIVED schema statements (scm-*,
                    # owl:sameAs, vocabulary typings) — the cached rule
                    # table no longer reflects the store's schema subset
                    schema_delta = True
                self.add_quads(new_df.unionByName(inferred_new))
                if schema_delta:
                    self._rl_ctx.clear()
                else:
                    self._rl_ctx["valid_at"] = self._version
                return
            self.add_quads(new_df.unionByName(inferred_new))

    def load_nquads_text(self, text: str, graph: str | None = None) -> int:
        """Load an N-Quads document given as TEXT — the
        ``application/n-quads`` import surface of the RDF4J REST endpoint.
        Per-line graph labels land in ``g``; an explicit ``graph``
        overrides them (RDF4J explicit-context override)."""
        from dublin_smart_city_graphdb_spark.sources.turtle import (
            parse_ntriples_lines,
        )

        rows = list(
            parse_ntriples_lines(iter(text.splitlines()), allow_graph=True)
        )
        if graph is not None:
            rows = [(graph, *r[1:]) for r in rows]
        self._ingest_rows(rows)
        return len(rows)

    def load_nquads(self, path: str) -> None:
        """Bulk N-Quads load: per-line graph labels land in ``g`` (named
        graphs queryable via GRAPH/FROM NAMED)."""
        from dublin_smart_city_graphdb_spark.sources.turtle import (
            read_nquads_distributed,
        )

        self.add_quads(read_nquads_distributed(self.spark, path))

    def load_ntriples(self, path: str, graph: str | None = None) -> None:
        """Distributed bulk load (splittable text + executor-side parse)."""
        self._ingest(read_ntriples_distributed(self.spark, path, graph))

    def materialize_inference(self) -> None:
        """Forward-chaining fixpoint → quads under urn:inferred (the
        reference's load-time materialization, init-graphdb.sh:51-55).
        Ruleset ``rdfsplus`` runs the built-in batch; ``custom`` runs the
        repository's CONSTRUCT rules (config ``rules``, GraphDB custom-
        .pie-ruleset analog) through the same fixpoint scaffolding."""
        ruleset = _norm_ruleset(self.config.get("ruleset"))
        if ruleset == "custom":
            from dublin_smart_city_graphdb_spark.inference.custom import (
                materialize_rules,
            )

            rules = self.config.get("rules") or []
            spark = self.spark

            def materialize(explicit):
                return materialize_rules(spark, explicit, rules)
        elif ruleset == "owl-horst":
            from dublin_smart_city_graphdb_spark.inference import horst

            spark = self.spark

            def materialize(explicit):
                return horst.materialize(spark, explicit)
        elif ruleset == "owl2-rl":
            from dublin_smart_city_graphdb_spark.inference import owl2rl

            spark = self.spark

            def materialize(explicit):
                return owl2rl.materialize(spark, explicit)
        else:
            from dublin_smart_city_graphdb_spark.inference.rdfsplus import (
                materialize,
            )

        with self._write_lock:
            self._materialize_inference_locked(materialize)

    def _materialize_inference_locked(self, materialize) -> None:
        # bind the property ONCE: on an empty repo each .quads access
        # builds a fresh DataFrame, and mixing columns from two instances
        # makes the filter unresolvable
        q = self.quads
        explicit = q.filter((q.g.isNull()) | (q.g != INFERRED_GRAPH))
        inferred = materialize(explicit)
        self._pred_stats = None
        self._version += 1
        self._publish(explicit.unionByName(inferred))

    # -- star views (property-table fast path, SURVEY §1.5) -----------------
    def materialize_star_view(
        self, name: str, predicates: list[str], class_iri: str | None = None
    ) -> DataFrame:
        """Register + build a property-table view for a hot class. The BGP
        compiler then routes any same-subject star whose predicates all
        live in the view (and whose rdf:type restriction matches
        ``class_iri``) through ONE columnar scan instead of per-predicate
        quad scans. Single-valued contract: see
        :func:`model.property_table.star_view`. Views rebuild lazily after
        mutations (keyed on the statement-set version)."""
        self._star_view_defs[name] = (tuple(predicates), class_iri)
        return self._star_view_df(name)

    def drop_star_view(self, name: str) -> None:
        self._star_view_defs.pop(name, None)
        self._star_views_built.pop(name, None)

    def _star_view_df(self, name: str) -> DataFrame:
        from dublin_smart_city_graphdb_spark.model.property_table import (
            star_view,
        )

        preds, cls = self._star_view_defs[name]
        key = self._version
        built = self._star_views_built.get(name)
        if built is not None and built[0] == key:
            return built[1]
        df = star_view(self.quads, list(preds), cls)
        if self._store:
            path = os.path.join(
                self.engine.warehouse, self.name, "star_views", name
            )
            df.write.mode("overwrite").parquet(path)
            df = self.spark.read.parquet(path)
        else:
            df = df.localCheckpoint(eager=True)
        self._star_views_built[name] = (key, df)
        return df

    def star_views(self) -> list[tuple[set, str | None, DataFrame]]:
        return [
            (set(preds), cls, self._star_view_df(n))
            for n, (preds, cls) in self._star_view_defs.items()
        ]

    def validate_shacl(
        self, shapes_text: str, include_inferred: bool = True
    ) -> DataFrame:
        """SHACL core validation of this repository against a shapes
        document (Turtle text) — the GraphDB/RDF4J SHACL engine surface
        (enabled by repo config in the reference deployment model, like
        the ruleset at init-graphdb.sh:51-55). Returns the validation
        report as a DataFrame (one row per sh:ValidationResult; empty ⇔
        conforms). Validates the store view including materialized
        inference by default, matching how queries see the data."""
        import pyspark.sql.functions as F

        from dublin_smart_city_graphdb_spark.shacl import parse_shapes, validate

        data = self.quads
        if not include_inferred:
            data = data.filter(
                F.col("g").isNull() | (F.col("g") != INFERRED_GRAPH)
            )
        return validate(data, parse_shapes(shapes_text))

    # -- SHACL validation-on-commit (RDF4J ShaclSail parity) ----------------
    def validate_shacl_stored(
        self, include_inferred: bool = True
    ) -> DataFrame:
        """On-demand validation against the STORED shapes graph
        (``SHACL_SHAPES_GRAPH`` — the RDF4J convention: clients load
        shapes into that context via GSP/transactions). Empty report when
        no shapes are stored. This is the same shape set
        ``shacl_enforce`` repositories check on every commit."""
        import pyspark.sql.functions as F

        from dublin_smart_city_graphdb_spark.shacl import (
            SHACL_SHAPES_GRAPH,
            validate,
        )

        shapes = self._stored_shapes(self.quads)
        data = self.quads.filter(
            F.col("g").isNull() | (F.col("g") != SHACL_SHAPES_GRAPH)
        )
        if not include_inferred:
            data = data.filter(
                F.col("g").isNull() | (F.col("g") != INFERRED_GRAPH)
            )
        if not shapes:
            return validate(data.limit(0), [])
        return validate(data, shapes)

    def _stored_shapes(self, candidate: DataFrame) -> list:
        """Parse the shapes graph out of ``candidate`` (driver-side — a
        shapes graph is ontology-sized by nature, capped loudly at
        ``SHAPES_GRAPH_CAP``). Does NOT touch the cache: callers decide
        whether the parse is for a committed state."""
        import pyspark.sql.functions as F

        from dublin_smart_city_graphdb_spark.shacl import (
            SHACL_SHAPES_GRAPH,
            SHAPES_GRAPH_CAP,
            ShaclError,
            quad_rows_to_triples,
            shapes_from_triples,
        )

        rows = (
            candidate.filter(F.col("g") == SHACL_SHAPES_GRAPH)
            .select("s", "p", "o_kind", "o_lex", "o_dtype", "o_lang")
            .limit(SHAPES_GRAPH_CAP + 1)
            .collect()
        )
        if len(rows) > SHAPES_GRAPH_CAP:
            raise ShaclError(
                f"shacl: shapes graph exceeds {SHAPES_GRAPH_CAP} statements"
                " — data loaded into the shapes context?"
            )
        if not rows:
            return []
        return shapes_from_triples(quad_rows_to_triples(rows))

    def _enforce_shacl(
        self,
        candidate: DataFrame,
        affected: DataFrame | None,
        shapes_delta: bool,
    ) -> None:
        """The commit gate (ShaclSail contract, VERDICT r8 task 2): when
        ``shacl_enforce`` is on and the shapes graph is non-empty,
        validate the candidate post-state BEFORE any write lands; raise
        :class:`ShaclViolationError` (carrying a capped report) to reject
        the commit with the store unchanged.

        Scale shape: validation data stays a lazy distributed frame;
        delta-local shapes (single-step paths, no cross-node reads)
        restrict their focus set to ``affected`` — the nodes the commit
        touched — so a ground-data commit costs O(Δ ⋈ store) filtered
        scans, not O(store) re-validation. Non-local shapes (sh:class,
        sh:node, composite paths, sh:sparql) validate fully; that cost is
        those shapes' semantics. Validation sees EXPLICIT statements only
        (the RDF4J ShaclSail contract — it validates asserted data;
        inference-aware reports stay available on demand via
        ``validate_shacl(include_inferred=True)``)."""
        if not self.config.get("shacl_enforce"):
            return
        import pyspark.sql.functions as F

        from dublin_smart_city_graphdb_spark.shacl import (
            SHACL_REPORT_CAP,
            SHACL_SHAPES_GRAPH,
            ShaclViolationError,
            validate,
        )

        if shapes_delta or self._shapes_cache is None:
            shapes = self._stored_shapes(candidate)
            # cache only when this parse reflects the COMMITTED shapes
            # graph: a shapes-touching candidate may still be rejected
            # below, so its parse must not stick
            if shapes_delta:
                self._shapes_cache = None
            else:
                self._shapes_cache = shapes
        else:
            shapes = self._shapes_cache
        if not shapes:
            return
        data = candidate.filter(
            F.col("g").isNull()
            | (~F.col("g").isin(INFERRED_GRAPH, SHACL_SHAPES_GRAPH))
        )
        # a commit that touches the SHAPES graph changes what conformance
        # means for every focus node — the delta-focus restriction is
        # only sound when the shape set itself is unchanged
        report = validate(data, shapes, None if shapes_delta else affected)
        rows = report.limit(SHACL_REPORT_CAP + 1).collect()
        if rows:
            raise ShaclViolationError(
                [r.asDict() for r in rows[:SHACL_REPORT_CAP]],
                truncated=len(rows) > SHACL_REPORT_CAP,
            )

    def _shacl_gate_append(self, new_df: DataFrame) -> None:
        """Append-path commit gate: candidate = store ∪ batch; affected =
        the batch's subjects plus IRI/bnode objects (a superset of every
        node whose incident statements change — sound for the delta-local
        focus restriction)."""
        if not self.config.get("shacl_enforce"):
            return
        import pyspark.sql.functions as F

        from dublin_smart_city_graphdb_spark.shacl import SHACL_SHAPES_GRAPH

        candidate = (
            new_df
            if self._quads is None
            else self._quads.unionByName(new_df)
        )
        shapes_delta = bool(
            new_df.filter(F.col("g") == SHACL_SHAPES_GRAPH).limit(1).count()
        )
        affected = (
            new_df.select(F.col("s").alias("focus"))
            .unionByName(
                new_df.filter(F.col("o_kind").isin(0, 1)).select(
                    F.col("o_lex").alias("focus")
                )
            )
            .distinct()
        )
        self._enforce_shacl(candidate, affected, shapes_delta)

    def _ops_affected(
        self, ops: list, max_nodes: int = 20_000
    ) -> tuple[DataFrame | None, bool]:
        """(affected-focus frame | None, shapes_delta) for an update-op
        batch. Ground data ops yield their constant subjects + node
        objects driver-side (no Spark job); pattern-driven ops return
        (None, True) — full validation plus a shapes re-parse, the
        conservative sound fallback."""
        from dublin_smart_city_graphdb_spark.shacl import SHACL_SHAPES_GRAPH
        from dublin_smart_city_graphdb_spark.sparql import ast as A
        from dublin_smart_city_graphdb_spark.sparql.update import _ground_rows

        nodes: set[str] = set()
        shapes_delta = False
        for op in ops:
            if not isinstance(op, (A.InsertDataOp, A.DeleteDataOp)):
                return None, True
            for row in _ground_rows(op.quads):
                if row[0] == SHACL_SHAPES_GRAPH:
                    shapes_delta = True
                nodes.add(row[1])
                if row[3] in (0, 1):
                    nodes.add(row[4])
        if len(nodes) > max_nodes:
            return None, shapes_delta
        return (
            self.spark.createDataFrame(
                [(n,) for n in sorted(nodes)], "focus string"
            ),
            shapes_delta,
        )

    def check_consistency(self, include_inferred: bool = True) -> DataFrame:
        """OWL 2 RL inconsistency rules (eq-diff*, prp-irp/asyp/pdw/adp/
        npa*, cls-com/nothing2/maxc1/maxqc1+2, cax-dw/adc) as a
        validation report — one (rule, focus, detail) row per violation,
        empty ⇔ consistent. GraphDB surfaces these as load-time
        consistency errors under the owl2-rl ruleset (selected by name
        like init-graphdb.sh:51-55 selects rdfsplus-optimized); here they
        are a SHACL-style batch report over the materialized view."""
        import pyspark.sql.functions as F

        from dublin_smart_city_graphdb_spark.inference.owl2rl import (
            consistency_report,
        )

        data = self.quads
        if not include_inferred:
            data = data.filter(
                F.col("g").isNull() | (F.col("g") != INFERRED_GRAPH)
            )
        return consistency_report(self.spark, data)

    # -- query --------------------------------------------------------------
    @property
    def quads(self) -> DataFrame:
        if self._quads is None:
            return local_df(self.spark, [], QUAD_SCHEMA)
        return self._quads

    def _snapshot_stats(self) -> tuple[dict[str, int], bool]:
        """Collected once per statement-set version: read from the store's
        stats file, else one tiny groupBy job over the quads."""
        if self._pred_stats is None:
            stats = self._store.stats() if self._store else ({}, False)
            if not stats[0]:
                stats = snapshot_stats(self.quads)
            self._pred_stats = stats
        return self._pred_stats

    def predicate_stats(self) -> dict[str, int]:
        """Per-predicate row counts for BGP join ordering (the predicate-
        lists statistics analogue, SURVEY §4.1)."""
        return self._snapshot_stats()[0]

    def wkt_escape_free(self) -> bool:
        """True when no term text of the statement set has a shape the
        geo predicates send to their DE-9IM escape
        (sources/store.snapshot_stats)."""
        return self._snapshot_stats()[1]

    def sparql(
        self, query_text: str, include_inferred: bool = True
    ) -> DataFrame:
        # Prepared-plan cache: compiling is Py4J-chatty (thousands of
        # gateway round trips building Column trees), so identical query
        # text over an unchanged statement set reuses the compiled
        # DataFrame — plans are immutable, and every mutation path bumps
        # self._version, changing the cache key.
        # SERVICE targets: sibling repositories in this catalog, addressable
        # as <urn:repo:{name}> (SPARQL 1.1 Federated Query, engine-internal).
        services = {
            f"urn:repo:{n}": r.quads
            for n, r in self.engine._repos.items()
            if n != self.name
        }
        key = (
            query_text,
            include_inferred,
            self._version,
            len(self.engine.functions),
            tuple(sorted((n, r._version) for n, r in self.engine._repos.items())),
            tuple(sorted(self._star_view_defs)),
        )
        cached = self._plan_cache.get(key)
        if cached is not None:
            return cached
        ast = parse_query(query_text)
        base = self.quads
        if not include_inferred:
            # GraphDB's "include inferred" toggle (RDF4J infer=false):
            # evaluate over the EXPLICIT statements only
            base = base.filter(
                (base.g.isNull()) | (base.g != INFERRED_GRAPH)
            )
        df = QueryCompiler(
            self.spark,
            base,
            predicate_stats=self.predicate_stats(),
            wkt_escape_free=self.wkt_escape_free(),
            extensions=self.engine.functions,
            services=services,
            # star views are built over the full store; skip the fast path
            # when inferred statements are excluded
            star_views=self.star_views() if include_inferred else [],
        ).compile(ast)
        if len(self._plan_cache) >= 128:
            self._plan_cache.pop(next(iter(self._plan_cache)))
        self._plan_cache[key] = df
        return df

    def sparql_json(self, query_text: str, timeout: float | None = None) -> dict:
        """Query → SPARQL-results-JSON dict (the reference's
        ``Accept: application/sparql-results+json`` path, init-graphdb.sh:134)."""
        from dublin_smart_city_graphdb_spark.sparql.protocol import rows_to_json

        rows = self.sparql_collect(query_text, timeout=timeout)
        return rows_to_json(self.sparql(query_text).columns, rows)

    def sparql_serialized(
        self, query_text: str, accept: str = "application/sparql-results+json",
        timeout: float | None = None, include_inferred: bool = True,
    ) -> tuple[str, str]:
        """Query → (payload, content-type) for the protocol Accept types:
        results-JSON (default), results-XML (the W3C protocol default the
        reference endpoint serves, README.md:63-65), results-CSV,
        results-TSV; CONSTRUCT/DESCRIBE also RDF/XML, N-Triples and
        JSON-LD (``graph_result_chunks``, joined). Every form runs under
        the query timeout and the monitor (``_guarded_chunks``)."""
        import json as _json

        from dublin_smart_city_graphdb_spark.sparql.protocol import (
            rows_to_csv,
            rows_to_json,
            rows_to_tsv,
            rows_to_xml,
        )

        # CONSTRUCT/DESCRIBE return an RDF GRAPH, not a result set: serve
        # it in the requested graph serialization (the W3C protocol
        # behavior; results-JSON stays available for tooling).
        graph = self._graph_build(query_text, accept, include_inferred)
        if graph is not None:
            build, ctype = graph
            chunks = self._guarded_chunks(query_text, build, timeout)
            return "".join(chunks), ctype

        rows = self.sparql_collect(
            query_text, timeout=timeout, include_inferred=include_inferred
        )
        df = self.sparql(query_text, include_inferred=include_inferred)
        if "application/sparql-results+xml" in accept or "application/xml" in accept:
            return (
                rows_to_xml(df.columns, rows),
                "application/sparql-results+xml",
            )
        if "text/csv" in accept:
            return rows_to_csv(df.columns, rows), "text/csv"
        if "text/tab-separated-values" in accept:
            return rows_to_tsv(df.columns, rows), "text/tab-separated-values"
        return (
            _json.dumps(rows_to_json(df.columns, rows)),
            "application/sparql-results+json",
        )

    def sparql_result_chunks(
        self, query_text: str, include_inferred: bool = True,
        batch_rows: int = 1024,
    ):
        """SELECT results as an ITERATOR of results-JSON text chunks, or
        None for non-SELECT/ASK forms. Concatenated chunks are
        byte-identical to ``json.dumps(rows_to_json(...))`` of the
        collected result, but rows arrive through ``toLocalIterator`` —
        one partition resident on the driver at a time — so a 10^8-row
        SELECT never sits in driver memory as one list, matching how
        GraphDB streams result sets (the HTTP layer switches to a
        streamed response above a row threshold). Compile and stream run
        under the repository's query timeout and the monitor
        (``_guarded_chunks``)."""
        from dublin_smart_city_graphdb_spark.sparql import ast as _ast
        from dublin_smart_city_graphdb_spark.sparql.protocol import (
            select_result_chunks,
        )

        form = parse_query(query_text)
        if not isinstance(form, _ast.SelectQuery):
            return None
        return self._guarded_chunks(
            query_text,
            lambda: select_result_chunks(
                self.sparql(query_text, include_inferred=include_inferred),
                batch_rows=batch_rows,
            ),
        )

    def graph_result_chunks(
        self, query_text: str, accept: str,
        include_inferred: bool = True, batch_rows: int = 1024,
    ):
        """CONSTRUCT/DESCRIBE graph serializations as ``(chunk_iter,
        content_type)``, or None when the form/Accept pair has no graph
        serialization (SELECT/ASK, or a result-set Accept). Chunk
        concatenation is ``sparql_serialized``'s body; N-Triples and
        RDF/XML rows arrive through ``toLocalIterator`` so a 10^8-triple
        CONSTRUCT never sits on the driver as one string (VERDICT r7 task
        1 — GraphDB streams these). RDF/XML runs a distributed
        inexpressible-predicate probe first (a LIMIT-1 filter job), so the
        4xx still happens before any bytes hit the wire. JSON-LD is one
        chunk, assembled on the driver under protocol.JSONLD_EXPORT_CAP.
        Compile, probe and stream run under the repository's query timeout
        and the monitor (``_guarded_chunks``)."""
        graph = self._graph_build(
            query_text, accept, include_inferred, batch_rows
        )
        if graph is None:
            return None
        build, ctype = graph
        return self._guarded_chunks(query_text, build), ctype

    def _graph_build(
        self, query_text: str, accept: str,
        include_inferred: bool = True, batch_rows: int = 1024,
    ):
        """``(build, content_type)`` of a CONSTRUCT/DESCRIBE answer in the
        first graph serialization ``accept`` names (RDF/XML, N-Triples,
        JSON-LD), or None. ``build()`` compiles the query and returns the
        answer's chunk iterator, for ``_guarded_chunks``."""
        import pyspark.sql.functions as F

        from dublin_smart_city_graphdb_spark.inference.custom import (
            _construct_to_spo,
        )
        from dublin_smart_city_graphdb_spark.sparql import ast as _ast
        from dublin_smart_city_graphdb_spark.sparql.protocol import (
            JSONLD_EXPORT_CAP,
            RDFXML_FOOTER,
            RDFXML_HEADER,
            construct_to_ntriples,
            line_chunk_iter,
            quads_to_jsonld,
            quads_to_rdfxml_fragments,
        )

        form = parse_query(query_text)
        if not isinstance(form, (_ast.ConstructQuery, _ast.DescribeQuery)):
            return None

        def spo():
            return _construct_to_spo(
                self.sparql(query_text, include_inferred=include_inferred)
            ).withColumn("g", F.lit(None).cast("string"))

        def rdfxml():
            frags = quads_to_rdfxml_fragments(spo())
            if frags.filter(F.col("value").isNull()).limit(1).count():
                raise ValueError(
                    "a predicate IRI has no XML-expressible local "
                    "name; request N-Triples"
                )
            return line_chunk_iter(
                frags, batch_rows, head=RDFXML_HEADER, tail=RDFXML_FOOTER,
            )

        def ntriples():
            return line_chunk_iter(
                construct_to_ntriples(
                    self.sparql(query_text, include_inferred=include_inferred)
                ),
                batch_rows,
            )

        def jsonld():
            quads = spo()
            return _lazy(
                lambda: quads_to_jsonld(quads, max_quads=JSONLD_EXPORT_CAP)
                + "\n"
            )

        if "application/rdf+xml" in accept:
            return rdfxml, "application/rdf+xml"
        if any(
            t in accept
            for t in ("application/n-triples", "text/turtle", "text/plain")
        ):
            return ntriples, "application/n-triples"
        if "application/ld+json" in accept:
            return jsonld, "application/ld+json"
        return None

    def _deadline(self, timeout: float | None) -> tuple[float, float]:
        """(timeout, absolute deadline) of a query: the repository's query
        timeout (the reference's 30 s ``queryTimeout``,
        init-graphdb.sh:66-70) unless given, counted from the arrival of
        the request being served (``REQUEST_STARTED``), else from now."""
        timeout = timeout or self.config.get("query_timeout", 30)
        return timeout, (REQUEST_STARTED.get() or time.time()) + timeout

    def _guarded_chunks(self, query_text: str, build, timeout=None):
        """Run a read under the query timeout and the monitor: the one
        mechanism behind every ``Repository`` SPARQL read.

        ``build()`` compiles the query and returns its chunk iterator (or
        None). Compile and iteration run in the caller's thread under a
        fresh job group registered in the engine's query monitor. At the
        deadline a timer cancels the group, and a monitor abort does the
        same; either cancel also fails every job the group submits later,
        so a compile still running then starts no further work. The
        deadline and the abort flag are checked after the compile and
        before every chunk; a stop surfaces as TimeoutError /
        QueryAbortedError. The compile runs before this returns, so a
        compile past the deadline raises here; the returned iterator is
        already started, and exhausting, closing or dropping it
        unregisters the query."""
        gen = self._guarded_gen(query_text, build, *self._deadline(timeout))
        if not next(gen):
            gen.close()
            return None
        return gen

    def _guarded_gen(self, query_text: str, build, timeout, deadline):
        sc = self.spark.sparkContext
        group = f"sparql-{uuid.uuid4().hex[:8]}"

        def check() -> None:
            if entry["aborted"]:
                raise QueryAbortedError(
                    f"query {entry['id']} aborted via monitor"
                )
            if time.time() >= deadline:
                raise TimeoutError(f"query exceeded {timeout}s timeout")

        timer = threading.Timer(
            max(0.0, deadline - time.time()), _cancel_group, (sc, group)
        )
        timer.daemon = True
        saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
        # interruptOnCancel=False: cancellation uses the task-killed flag
        # (checked at record boundaries), NOT Thread.interrupt — an
        # interrupt landing in Parquet IO / codegen can raise a fatal
        # error in a daemon thread, and Spark's uncaught-exception handler
        # then EXITS the whole JVM (observed: the timeout test
        # nondeterministically killed the suite's shared session on
        # contended runs; Spark's own docs flag the interrupt path as
        # unsafe for exactly this reason).
        sc.setJobGroup(group, "sparql query", interruptOnCancel=False)
        entry = self.engine._register_query(self.name, query_text, group)
        timer.start()
        try:
            chunks = build()
            check()
            yield chunks is not None
            for c in chunks or ():
                check()
                yield c
        except (TimeoutError, QueryAbortedError):
            raise
        except Exception:
            # a cancelled job fails with Spark's own error: report why
            check()
            raise
        finally:
            timer.cancel()
            self.engine._unregister_query(entry["id"])
            # restore the caller's job group (usually none)
            for k, v in zip(_JOB_GROUP_PROPS, saved):
                sc.setLocalProperty(k, v)

    def explain(self, query_text: str, mode: str = "formatted") -> str:
        """The physical plan Spark will execute for a SPARQL query (modes:
        simple/extended/codegen/cost/formatted) — the engine's answer to a
        query-plan inspection endpoint, and what the plan-contract tests
        assert against."""
        df = self.sparql(query_text)
        jmode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            mode
        )
        return df._jdf.queryExecution().explainString(jmode)

    def update(self, update_text: str) -> None:
        """SPARQL 1.1 Update (SURVEY §2.1 S7): mutate the explicit statement
        set, then re-run load-time inference if the ruleset asks for it."""
        from dublin_smart_city_graphdb_spark.sparql.parser import parse_update

        self._apply_ops(parse_update(update_text))

    def _load_fn(self):
        def load_fn(path: str, graph: str | None) -> DataFrame:
            text = open(path).read()
            return self.spark.createDataFrame(
                turtle_to_rows(text, graph), QUAD_SCHEMA
            )

        return load_fn

    def _apply_ops(self, ops: list) -> None:
        """Apply parsed update operations as ONE visibility switch: the ops
        compose lazily over the explicit statement set and a single
        overwrite/checkpoint lands the result — this is what makes a
        multi-op transaction commit atomic."""
        from dublin_smart_city_graphdb_spark.sparql.update import UpdateExecutor

        # visible in the query monitor as IN_COMMIT (GraphDB lifecycle
        # state) while the visibility switch lands; not abortable — the
        # overwrite/checkpoint is the atomicity point
        entry = self.engine._register_query(
            self.name, f"<update: {len(ops)} op(s)>", None, state="IN_COMMIT"
        )
        try:
            with self._write_lock:
                q = self.quads  # bind once — see materialize_inference
                explicit = q.filter((q.g.isNull()) | (q.g != INFERRED_GRAPH))
                result = UpdateExecutor(self.spark, self._load_fn()).apply(
                    explicit, ops
                )
                if self.config.get("shacl_enforce"):
                    affected, shapes_delta = self._ops_affected(ops)
                    self._enforce_shacl(result, affected, shapes_delta)
                ruleset = _norm_ruleset(self.config.get("ruleset", "none"))
                inferred_new = None
                if (
                    ruleset in ("rdfsplus", "owl-horst", "owl2-rl")
                    and self._quads is not None
                ):
                    # incremental closure maintenance: Δ-seeded insert
                    # path + DRed delete path (inference/dred.py); None
                    # → schema-touching delta, full rebuild below
                    result = result.filter(
                        (F.col("g").isNull()) | (F.col("g") != INFERRED_GRAPH)
                    )
                    inferred_new = self._maintain_closure(
                        q, explicit, result, ruleset, ops
                    )
                self._pred_stats = None
                self._version += 1
                final = (
                    result if inferred_new is None
                    else result.unionByName(inferred_new)
                )
                self._publish(final)
                if inferred_new is None and ruleset != "none":
                    self.materialize_inference()
        finally:
            self.engine._unregister_query(entry["id"])

    def _constant_delta(
        self, explicit: DataFrame, ops: list,
        max_triples: int = 20_000, max_probe: int = 200_000,
    ) -> tuple[list, list, dict] | None:
        """(deleted_spo_rows, added_spo_rows, key) when every op is a
        ground data op (INSERT DATA / DELETE DATA); ``key`` maps each
        constant triple's identity to its ``_id_key``. ONE key-filter
        probe of the store (``_held``) replaces the generic path's two
        full-store diff shuffles — a 200-triple DELETE DATA against a
        100 TB store must not shuffle the store to learn its own delta.
        The probe collects the store quads holding the constant triples
        (bounded by ``max_probe``) and replays the op sequence
        driver-side to get exact per-graph membership: a triple deleted
        from one graph but still held by another is NOT deleted for the
        closure. Returns None when the batch is non-constant or too large
        — the caller falls back to the diff path."""
        from dublin_smart_city_graphdb_spark.sparql import ast as A
        from dublin_smart_city_graphdb_spark.sparql.update import (
            _ground_rows,
        )

        if not ops or not all(
            isinstance(o, (A.InsertDataOp, A.DeleteDataOp)) for o in ops
        ):
            return None
        grounded = [(op, _ground_rows(op.quads)) for op in ops]
        if sum(len(r) for _, r in grounded) > max_triples:
            return None
        spo_of: dict[tuple, tuple] = {}
        for _, rows in grounded:
            for r in rows:
                spo_of[tuple(r[1:7])] = tuple(r[1:])
        held = self._held(explicit, list(spo_of), limit=max_probe)
        if held is None:
            return None
        key, matched = held
        present: dict[tuple, set] = {k: set() for k in spo_of}
        for g, rid in matched:
            present[rid].add(g)
        old_has = {k for k, v in present.items() if v}
        for op, rows in grounded:
            delete = isinstance(op, A.DeleteDataOp)
            for r in rows:
                rid, g = tuple(r[1:7]), r[0]
                if delete:
                    present[rid].discard(g)
                else:
                    present[rid].add(g)
        new_has = {k for k, v in present.items() if v}
        return (
            [spo_of[k] for k in old_has - new_has],
            [spo_of[k] for k in new_has - old_has],
            key,
        )

    def _anti_literal(
        self, df: DataFrame, rows: list, key: dict
    ) -> DataFrame:
        """``df`` minus a DRIVER-KNOWN row set, as one map-side
        ``NOT _id_key() IN (…)`` filter (``key`` maps each row's identity
        to its key, see ``_constant_delta``). No join, so no broadcast is
        re-run by each plan that reads the view, and the filter costs the
        same few Py4J calls and one ``InSet`` for 1 or 20,000 rows.
        Identity = the 6 id columns, null-safe, like
        inference.dred._anti."""
        if not rows:
            return df
        return df.filter(
            ~_key_in(self.spark, [key[tuple(r[:6])] for r in rows])
        )

    def _maintain_closure(
        self, q: DataFrame, explicit: DataFrame, result: DataFrame,
        ruleset: str, ops: list,
    ) -> DataFrame | None:
        """Maintained inferred quads after an arbitrary SPARQL-Update /
        transaction batch, or None → caller re-materializes fully.

        Learns the explicit SPO delta, then routes the deleted side
        through the ruleset's DRed retract (inference/dred.py — Δ-seeded
        overdeletion, one rederive round) and the added side through its
        Δ-seeded insert fixpoint. A ground batch (INSERT/DELETE DATA up
        to ``_constant_delta``'s bound) learns its delta from one key
        probe, and every view it derives — the store minus the deleted
        triples, the inferred set minus the added ones — is one key
        filter (``_anti_literal``), whatever the batch size. Any other
        batch diffs the explicit SPO projections (two anti-joins, one
        shuffle each). The SPO projection is the right diff domain:
        inference reads the union of all explicit graphs, so a triple
        removed from one graph but still present in another is not a
        deletion for the closure."""
        from dublin_smart_city_graphdb_spark.inference import horst, owl2rl
        from dublin_smart_city_graphdb_spark.inference.dred import _anti
        from dublin_smart_city_graphdb_spark.inference.rdfsplus import (
            _SPO_COLS,
            materialize_incremental,
            retract_incremental,
        )
        from dublin_smart_city_graphdb_spark.plans.ckpt import fresh_ids
        from pyspark.sql.types import StructType

        spo_schema = StructType(QUAD_SCHEMA.fields[1:])
        # fresh_ids on every frame handed downstream: the maintenance
        # unions these with one another, and checkpoint-descended frames
        # sharing attribute ids trip a Spark optimizer crash (ckpt.py)
        inferred_old = fresh_ids(
            q.filter(q.g == INFERRED_GRAPH).select(
                F.lit(INFERRED_GRAPH).alias("g"), *_SPO_COLS
            ).localCheckpoint(eager=True)
        )
        const = self._constant_delta(explicit, ops)
        if const is not None:
            # ground data-op batch: the delta is known from ONE key probe
            # — no full-store diff shuffles at all
            del_rows, add_rows, key = const
            no_del, no_add = not del_rows, not add_rows
            deleted = local_df(self.spark, del_rows, spo_schema)
            added = local_df(self.spark, add_rows, spo_schema)
        else:
            # checkpoint both projections: `result`'s plan CONTAINS
            # `explicit` as a subtree (a MODIFY op's WHERE runs over the
            # store), so the diff anti-joins would otherwise be ambiguous
            # self-joins — and the maintenance makes several passes over
            # each side anyway
            old_spo = (
                explicit.select(*_SPO_COLS).distinct()
                .localCheckpoint(eager=True)
            )
            new_spo = (
                result.select(*_SPO_COLS).distinct()
                .localCheckpoint(eager=True)
            )
            deleted = fresh_ids(
                _anti(old_spo, new_spo).localCheckpoint(eager=True)
            )
            added = fresh_ids(
                _anti(new_spo, old_spo).localCheckpoint(eager=True)
            )
            no_del, no_add = deleted.isEmpty(), added.isEmpty()
        if no_del and no_add:
            return inferred_old  # no net explicit change
        if const is not None:
            # LAZY map-side view: the store minus the deleted set by one
            # key filter — no full-store shuffle, copy or join; duplicate
            # SPO rows across graphs are tolerated downstream
            # (dred.retract)
            mid_spo = self._anti_literal(
                explicit.select(*_SPO_COLS), del_rows, key
            )
        else:
            mid_spo = fresh_ids(
                _anti(new_spo, added).localCheckpoint(eager=True)
            )
        inferred_mid = inferred_old
        if not no_del:
            if ruleset == "rdfsplus":
                inferred_mid = retract_incremental(
                    mid_spo, inferred_old, deleted
                )
            elif ruleset == "owl-horst":
                inferred_mid = horst.retract_incremental(
                    self.spark, mid_spo, inferred_old, deleted
                )
            else:
                inferred_mid = owl2rl.retract_incremental(
                    self.spark, mid_spo, inferred_old, deleted
                )
            if inferred_mid is None:
                return None
            inferred_mid = inferred_mid.localCheckpoint(eager=True)
        if no_add:
            return inferred_mid
        base = mid_spo.unionByName(inferred_mid.select(*_SPO_COLS))
        if ruleset == "rdfsplus":
            extra = materialize_incremental(base, added)
        elif ruleset == "owl-horst":
            extra = horst.materialize_incremental(self.spark, base, added)
        else:
            extra = owl2rl.materialize_incremental(self.spark, base, added)
        # an added explicit triple that was previously INFERRED must leave
        # the inferred set (a full rebuild seeds `known` with the explicit
        # store, so it would never re-derive it)
        if const is not None:
            return self._anti_literal(
                inferred_mid, add_rows, key
            ).unionByName(extra)
        return _anti(inferred_mid, added).unionByName(extra)

    def begin(self) -> "Transaction":
        """Open a buffered transaction (RDF4J transaction semantics at the
        batch-analytics level): operations accumulate driver-side; nothing
        is visible to other readers until commit applies them atomically."""
        return Transaction(self)

    def sparql_collect(
        self,
        query_text: str,
        timeout: float | None = None,
        include_inferred: bool = True,
    ):
        """Compile and collect under the repository's query timeout (the
        reference's 30 s ``queryTimeout``, init-graphdb.sh:66-70) unless
        ``timeout`` is given, and the engine's query monitor (GraphDB's
        running-queries REST surface), where it can be listed and aborted
        concurrently — see ``_guarded_chunks``."""

        def build():
            df = self.sparql(query_text, include_inferred=include_inferred)
            return _lazy(df.collect)

        (rows,) = self._guarded_chunks(query_text, build, timeout)
        return rows

    def count(self) -> int:
        """The reference's verification query (init-graphdb.sh:133)."""
        return self.quads.count()

    def property_table(
        self,
        columns: dict[str, tuple[str, str]],
        class_iri: str | None = None,
        collect: str = "first",
    ) -> DataFrame:
        """Wide per-subject view of hot classes — the columnar analytics
        fast path (SURVEY §1.5); one pivot, natively-typed columns."""
        from dublin_smart_city_graphdb_spark.model.property_table import (
            property_table,
        )

        return property_table(self.quads, columns, class_iri, collect)


class Transaction:
    """Buffered atomic mutation unit (the RDF4J transaction model the
    reference's engine serves over REST). ADD/DELETE/UPDATE operations
    accumulate as parsed update ops; ``commit()`` hands them to
    ``Repository._apply_ops`` which lands them in ONE visibility switch,
    so concurrent readers never observe a partial transaction. ``query()``
    evaluates against the transaction's OWN snapshot (committed state +
    buffered ops) without publishing anything — read-your-writes inside
    the transaction, isolation outside it."""

    def __init__(self, repo: Repository):
        self._repo = repo
        self._ops: list = []
        self.open = True

    def _require_open(self):
        if not self.open:
            raise ValueError("transaction is no longer open")

    @staticmethod
    def _data_op(cls, text: str, graph: str | None):
        from dublin_smart_city_graphdb_spark.model.terms import IRI
        from dublin_smart_city_graphdb_spark.sparql import ast as A
        from dublin_smart_city_graphdb_spark.sources.turtle import parse_turtle

        g = IRI(graph) if graph else None
        return cls(
            [(g, A.TriplePattern(s, p, o)) for s, p, o in parse_turtle(text)]
        )

    def add_turtle(self, text: str, graph: str | None = None) -> None:
        from dublin_smart_city_graphdb_spark.sparql import ast as A

        self._require_open()
        self._ops.append(self._data_op(A.InsertDataOp, text, graph))

    def delete_turtle(self, text: str, graph: str | None = None) -> None:
        from dublin_smart_city_graphdb_spark.sparql import ast as A

        self._require_open()
        self._ops.append(self._data_op(A.DeleteDataOp, text, graph))

    def update(self, update_text: str) -> None:
        from dublin_smart_city_graphdb_spark.sparql.parser import parse_update

        self._require_open()
        self._ops.extend(parse_update(update_text))

    def query(self, query_text: str) -> DataFrame:
        """Evaluate against committed-state + this transaction's buffer."""
        from dublin_smart_city_graphdb_spark.sparql.compiler import QueryCompiler
        from dublin_smart_city_graphdb_spark.sparql.parser import parse_query
        from dublin_smart_city_graphdb_spark.sparql.update import UpdateExecutor

        self._require_open()
        repo = self._repo
        q = repo.quads
        snapshot = UpdateExecutor(repo.spark, repo._load_fn()).apply(
            q.filter((q.g.isNull()) | (q.g != INFERRED_GRAPH)), self._ops
        )
        return QueryCompiler(
            repo.spark, snapshot, extensions=repo.engine.functions
        ).compile(parse_query(query_text))

    def commit(self) -> None:
        self._require_open()
        self.open = False
        if self._ops:
            self._repo._apply_ops(self._ops)

    def rollback(self) -> None:
        self._require_open()
        self.open = False
        self._ops = []


class Engine:
    """Catalog of repositories (SURVEY §2.1 S5, §3 E3)."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self._repos: dict[str, Repository] = {}
        # query monitor (GraphDB's running-queries REST surface): track id
        # → {id, repository, query, start, group, aborted}
        self._running: dict[str, dict] = {}
        self._monitor_lock = threading.Lock()
        self._query_seq = 0
        from dublin_smart_city_graphdb_spark.sparql.extensions import (
            default_extensions,
        )

        # SPARQL extension-function registry (SURVEY §2.9): IRI → callable
        # taking term-struct Columns, returning a term-struct Column.
        self.functions: dict = default_extensions()
        if warehouse:
            os.makedirs(warehouse, exist_ok=True)
            for name in os.listdir(warehouse):
                cfg_path = os.path.join(warehouse, name, "config.json")
                if os.path.exists(cfg_path):
                    with open(cfg_path) as f:
                        self._repos[name] = Repository(self, name, json.load(f))

    def create_repository(
        self,
        name: str,
        ruleset: str = "rdfsplus",
        query_timeout: float = 30.0,
        context_index: bool = True,
        bucket_subjects: int = 0,
        rules: list[str] | None = None,
        shacl_enforce: bool = False,
    ) -> Repository:
        """Idempotent create (matches init-graphdb.sh:36-82 + :145-154).
        ``bucket_subjects=N`` co-locates quads by subject hash (N buckets):
        star-compacted BGPs then aggregate with no shuffle at all.
        ``ruleset="custom"`` takes ``rules`` — SPARQL CONSTRUCT texts run
        to fixpoint at load time (the GraphDB custom-.pie-ruleset analog);
        the rule texts persist in config.json like every other setting.
        ``shacl_enforce=True`` turns on validation-on-commit (RDF4J
        ShaclSail parity): every load/update/transaction commit validates
        the post-state against the shapes stored in the
        ``SHACL_SHAPES_GRAPH`` context and is rejected (store unchanged,
        :class:`shacl.ShaclViolationError` with the report) on
        violation."""
        if name in self._repos:
            return self._repos[name]
        if _norm_ruleset(ruleset) == "custom" and not rules:
            raise ValueError('ruleset="custom" requires a non-empty rules list')
        config = {
            "ruleset": ruleset,
            "query_timeout": query_timeout,
            "context_index": context_index,
            "bucket_subjects": bucket_subjects,
            "shacl_enforce": shacl_enforce,
        }
        if rules is not None:
            config["rules"] = list(rules)
        repo = Repository(self, name, config)
        self._repos[name] = repo
        if self.warehouse:
            os.makedirs(os.path.join(self.warehouse, name), exist_ok=True)
            with open(os.path.join(self.warehouse, name, "config.json"), "w") as f:
                json.dump(config, f)
        return repo

    # -- dump / restore (GraphDB-style full-repository export) --------------
    def dump_repository(self, name: str, dest_dir: str) -> dict:
        """Full-repository dump: distributed N-Quads export of EVERY
        statement — inferred statements keep their ``urn:inferred`` graph
        marker, so a restore is exact without re-running inference — plus
        the repository config as JSON. The export is a distributed
        ``write.text`` (part files under ``statements.nq/``): at 100 TB
        the dump is a parallel scan-and-write, never a driver collect."""
        repo = self._repos[name]
        from dublin_smart_city_graphdb_spark.sparql.protocol import (
            quads_to_nquads,
        )

        os.makedirs(dest_dir, exist_ok=True)
        quads_to_nquads(repo.quads).write.mode("overwrite").text(
            os.path.join(dest_dir, "statements.nq")
        )
        with open(os.path.join(dest_dir, "config.json"), "w") as f:
            json.dump(repo.config, f)
        return {"name": name, "statements": repo.count()}

    def restore_repository(self, name: str, src_dir: str) -> Repository:
        """Restore a dump produced by :meth:`dump_repository`: create the
        repository with the dumped config, bulk-load the N-Quads
        distributed (splittable text scan + executor-side parse), and do
        NOT re-run inference — the dump already carries the materialized
        closure under its graph marker."""
        from dublin_smart_city_graphdb_spark.sources.turtle import (
            read_nquads_distributed,
        )

        with open(os.path.join(src_dir, "config.json")) as f:
            config = json.load(f)
        if name in self._repos:
            raise ValueError(f"repository {name!r} already exists")
        repo = self.create_repository(
            name,
            ruleset=config.get("ruleset", "none"),
            query_timeout=config.get("query_timeout", 30.0),
            context_index=config.get("context_index", True),
            bucket_subjects=config.get("bucket_subjects", 0),
            rules=config.get("rules"),
            shacl_enforce=config.get("shacl_enforce", False),
        )
        repo.add_quads(
            read_nquads_distributed(
                self.spark, os.path.join(src_dir, "statements.nq")
            )
        )
        return repo

    # -- query monitor (GraphDB running-queries surface) --------------------
    def _register_query(self, repo: str, query: str, group: str | None,
                        state: str = "IN_QUERY") -> dict:
        with self._monitor_lock:
            self._query_seq += 1
            entry = {
                "id": f"q{self._query_seq}",
                "repository": repo,
                "query": query,
                "start": time.time(),
                "group": group,
                "aborted": False,
                "state": state,
            }
            self._running[entry["id"]] = entry
        return entry

    def _unregister_query(self, track_id: str) -> None:
        with self._monitor_lock:
            self._running.pop(track_id, None)

    def running_queries(self) -> list[dict]:
        """Currently-executing operations: [{id, repository, query,
        elapsed_s, state}] — the ``GET /rest/monitor/query`` listing.
        ``state`` mirrors GraphDB's lifecycle report: IN_QUERY for reads,
        IN_COMMIT while an update's visibility switch is landing."""
        now = time.time()
        with self._monitor_lock:
            return [
                {
                    "id": e["id"],
                    "repository": e["repository"],
                    "query": e["query"],
                    "elapsed_s": round(now - e["start"], 3),
                    "state": e["state"],
                }
                for e in self._running.values()
            ]

    def abort_query(self, track_id: str) -> bool:
        """Abort a running query by track id: cancels its Spark job group
        and flags the waiting collector, which raises QueryAbortedError to
        its caller. Returns False for an unknown/finished id.

        The caller gets its error immediately; the killed tasks drain
        asynchronously — cancellation uses the task-killed flag, checked at
        record boundaries, NOT Thread.interrupt (an interrupt landing in
        Parquet IO can fatally exit the JVM — see Repository._guarded_gen). A
        long-running codegen'd loop (e.g. a cartesian COUNT) can hold its
        task slots for tens of seconds after the abort; schedule follow-up
        work accordingly (cluster deployments put queries in a FAIR pool
        so fresh jobs get slots while zombies drain)."""
        with self._monitor_lock:
            entry = self._running.get(track_id)
            if entry is None or entry["group"] is None:
                # unknown id, or an IN_COMMIT entry: the visibility switch
                # is atomic — there is no safe point to cancel it at
                return False
            entry["aborted"] = True
        _cancel_group(self.spark.sparkContext, entry["group"])
        return True

    def abort_all_queries(self) -> list[str]:
        """Abort every abortable running query (GraphDB's abort-all):
        cancels each query's job group; IN_COMMIT entries are skipped for
        the same atomicity reason as `abort_query`. Returns the aborted
        track ids."""
        with self._monitor_lock:
            targets = [
                (e["id"], e["group"])
                for e in self._running.values()
                if e["group"] is not None and not e["aborted"]
            ]
            for tid, _ in targets:
                self._running[tid]["aborted"] = True
        for _, group in targets:
            _cancel_group(self.spark.sparkContext, group)
        return [tid for tid, _ in targets]

    def register_function(self, iri: str, fn) -> None:
        """Register a SPARQL extension function: ``fn(args: list[Column
        (term struct)]) -> Column (term struct)``. Prefer JVM Column math;
        a pandas_udf-returning callable slots in when it can't express the
        semantics (Arrow-batched, never row-at-a-time)."""
        self.functions[iri] = fn

    def list_repositories(self) -> list[str]:
        return sorted(self._repos)

    def repository(self, name: str) -> Repository:
        return self._repos[name]

    def drop_repository(self, name: str) -> bool:
        """Delete a repository: catalog entry, bucketed table (if any) and
        warehouse directory (config, quads, star views). The reference's
        ``DELETE /rest/repositories/{id}`` surface. Idempotent — returns
        False when the repository does not exist."""
        repo = self._repos.pop(name, None)
        if repo is None:
            return False
        if repo._store is not None and repo._store.bucket_subjects:
            self.spark.sql(f"DROP TABLE IF EXISTS {repo._store._table}")
        if self.warehouse:
            import shutil

            shutil.rmtree(os.path.join(self.warehouse, name), ignore_errors=True)
        return True
