"""Thin SPARQL-Protocol HTTP facade (SURVEY §2.1 S3, §3 E1/E3).

Mirrors the exact REST surface the reference deployment exercises:

- ``GET/POST /repositories/{r}?query=`` → SPARQL-results JSON
  (``init-graphdb.sh:133-135``, ``README.md:63-65``);
- ``POST /repositories/{r}/statements`` with ``Content-Type: text/turtle``
  → bulk load (``init-graphdb.sh:90-119``), or form/raw ``update=`` →
  SPARQL Update (engine surface S7);
- ``GET /rest/repositories`` → repository list (``init-graphdb.sh:38``,
  ``entrypoint.sh:30``);
- ``POST /rest/repositories`` with the reference's JSON config shape
  → idempotent create (``init-graphdb.sh:44-72``);
- ``GET /protocol`` (version probe) and ``/repositories/{r}/namespaces``
  (+``/{prefix}``) → the RDF4J client-bootstrap resources;
- ``POST /repositories/{r}/transactions`` + ``PUT {txn}?action=ADD/
  DELETE/UPDATE/QUERY/COMMIT`` + ``DELETE {txn}`` → RDF4J transaction
  protocol (buffered atomic commits, read-your-writes queries);
- ``/repositories/{r}/rdf-graphs/service?graph=<iri>`` (or ``?default``)
  → W3C SPARQL 1.1 Graph Store HTTP Protocol (RDF4J path convention, so
  the reference's engine serves the same URLs): GET exports the graph as
  N-Triples, PUT replaces it with the Turtle body, POST merges, DELETE
  drops.

Serving is a stdlib ThreadingHTTPServer — the facade is NOT the engine: it
parses/dispatches only, every query still runs as a distributed Spark job.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyspark.sql.functions as F

from dublin_smart_city_graphdb_spark.engine import REQUEST_STARTED, Engine
from dublin_smart_city_graphdb_spark.shacl import ShaclViolationError


#: A SELECT response longer than this many buffered chunks (chunk ≈ 1024
#: bindings, see Repository.sparql_result_chunks) switches from one
#: Content-Length body to a STREAMED body terminated by connection close:
#: the driver holds one partition + this buffer, never the whole result.
STREAM_BUFFER_CHUNKS = 4

#: Accept fragments that negotiate something other than results-JSON —
#: those paths keep the buffered serializer (CSV/TSV/XML bodies, and the
#: graph serializations CONSTRUCT/DESCRIBE negotiate).
_NON_JSON_ACCEPTS = (
    "xml", "csv", "tab-separated-values", "n-triples", "turtle",
    "text/plain", "ld+json", "trig", "n-quads",
)


class _StreamAborted(Exception):
    """A chunk iterator failed AFTER the response switched to streaming —
    the status line is already on the wire, so the only correct move is
    to abort the connection. Raised by ``_send_chunks`` so callers'
    error handlers don't write a second status line + JSON error into
    the middle of a partially-streamed body."""


def _make_handler(engine: Engine):
    txns: dict[str, object] = {}  # txid → engine.Transaction
    txn_seq = iter(range(1, 1_000_000_000))

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test output
            pass

        def parse_request(self):
            # request arrival: a query's timeout counts from here
            REQUEST_STARTED.set(time.time())
            return super().parse_request()

        # -- helpers ---------------------------------------------------------
        def _answer_query(self, repo, query: str, infer: bool) -> None:
            """Run a protocol query and answer it — streamed for large
            JSON SELECT results, buffered otherwise."""
            accept = self.headers.get("Accept") or ""
            try:
                if not any(t in accept for t in _NON_JSON_ACCEPTS):
                    chunks = repo.sparql_result_chunks(
                        query, include_inferred=infer
                    )
                    if chunks is not None:
                        self._send_chunks(
                            200, chunks,
                            "application/sparql-results+json",
                        )
                        return
                else:
                    # CONSTRUCT/DESCRIBE graph serializations stream the
                    # same way (VERDICT r7 task 1) — N-Triples/Turtle
                    # lines and RDF/XML fragments via toLocalIterator
                    graph = repo.graph_result_chunks(
                        query, accept, include_inferred=infer
                    )
                    if graph is not None:
                        gchunks, gtype = graph
                        self._send_chunks(200, gchunks, gtype)
                        return
                payload, ctype = repo.sparql_serialized(
                    query, accept=accept, include_inferred=infer
                )
                self._send(200, payload, ctype)
            except _StreamAborted:
                return  # connection already marked for close mid-stream
            except TimeoutError as ex:
                # RDF4J answers an interrupted (timed-out) query with 503
                self._send(503, {"error": str(ex)})
            except Exception as ex:  # noqa: BLE001 — protocol boundary
                self._send(400, {"error": str(ex)})

        def _send_shacl(self, ex: ShaclViolationError) -> None:
            """A commit rejected by SHACL validation-on-commit: 409
            Conflict with the (capped) validation report — the RDF4J
            ShaclSail failure contract over HTTP. The store is unchanged
            (the gate raises before any write lands)."""
            self._send(409, {
                "error": str(ex),
                "conforms": False,
                "truncated": ex.truncated,
                "violations": ex.report_rows,
            })

        def _send_chunks(self, code: int, chunks, ctype: str) -> None:
            """Answer from a chunk iterator. Small results accumulate and
            go out as one Content-Length body (byte-identical to the
            buffered serializer); past STREAM_BUFFER_CHUNKS the response
            switches to a streamed body (no Content-Length, Connection:
            close) written as chunks arrive. A failure after the switch
            can only abort the connection — the status line is gone —
            which is the standard streaming-protocol contract."""
            buffered: list[str] = []
            streamed = False
            try:
                for c in chunks:
                    if streamed:
                        self.wfile.write(c.encode())
                        continue
                    buffered.append(c)
                    if len(buffered) > STREAM_BUFFER_CHUNKS:
                        self.send_response(code)
                        self.send_header("Content-Type", ctype)
                        self.send_header("Connection", "close")
                        self.end_headers()
                        for b in buffered:
                            self.wfile.write(b.encode())
                        buffered, streamed = [], True
            except Exception as ex:
                if streamed:
                    # headers are gone — abort the connection rather than
                    # let a caller write a 400 into the body mid-stream
                    self.close_connection = True
                    raise _StreamAborted(str(ex)) from ex
                raise
            if streamed:
                self.close_connection = True
            else:
                self._send(code, "".join(buffered), ctype)

        def _export_quads(self, quads, accept: str, nquads_ok: bool) -> None:
            """Serve a quads DataFrame in the negotiated graph format —
            STREAMED (VERDICT r7 task 1): every line-based serialization
            (N-Triples/N-Quads/TriG) and RDF/XML's fragment stream go out
            through _send_chunks + toLocalIterator, so a whole-store GET
            /statements holds one partition + a 4-chunk buffer on the
            driver, never the serialized corpus. RDF/XML's
            inexpressible-predicate probe runs as a distributed LIMIT-1
            job BEFORE the status line, keeping the 406. JSON-LD remains
            driver-assembled under a documented cap (413 → use the
            distributed dump path)."""
            from dublin_smart_city_graphdb_spark.sparql.protocol import (
                JSONLD_EXPORT_CAP,
                RDFXML_FOOTER,
                RDFXML_HEADER,
                line_chunk_iter,
                quads_to_nquads,
                quads_to_ntriples,
                quads_to_rdfxml_fragments,
                quads_to_trig_lines,
            )

            if "application/rdf+xml" in accept:
                frags = quads_to_rdfxml_fragments(quads)
                if frags.filter(F.col("value").isNull()).limit(1).count():
                    self._send(406, {
                        "error": "a predicate IRI has no XML-expressible"
                                 " local name; request N-Triples"
                    })
                    return
                self._send_chunks(
                    200,
                    line_chunk_iter(
                        frags, head=RDFXML_HEADER, tail=RDFXML_FOOTER
                    ),
                    "application/rdf+xml",
                )
                return
            if "application/ld+json" in accept:
                from dublin_smart_city_graphdb_spark.sparql.protocol import (
                    quads_to_jsonld,
                )

                try:
                    body = quads_to_jsonld(
                        quads, max_quads=JSONLD_EXPORT_CAP
                    )
                except ValueError as ex:
                    self._send(413, {"error": str(ex)})
                    return
                self._send(200, body + "\n", "application/ld+json")
                return
            if "application/trig" in accept:
                lines, ctype = quads_to_trig_lines(quads), "application/trig"
            elif nquads_ok and "n-quads" in accept:
                lines, ctype = quads_to_nquads(quads), "application/n-quads"
            else:
                lines, ctype = (
                    quads_to_ntriples(quads), "application/n-triples"
                )
            self._send_chunks(200, line_chunk_iter(lines), ctype)

        def _send(self, code: int, payload, ctype="application/json"):
            body = (
                payload.encode()
                if isinstance(payload, str)
                else json.dumps(payload).encode()
            )
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _repo(self, name: str):
            try:
                return engine.repository(name)
            except KeyError:
                self._send(404, {"error": f"unknown repository {name!r}"})
                return None

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length", 0))
            return self.rfile.read(n) if n else b""

        # RDF payload content types → TEXT-ONLY repository loaders. Network
        # bodies must never reach the path-or-text loaders: a body equal to
        # a server-side path would read local file contents (LFI).
        _RDF_LOADERS = {
            "text/turtle": "load_turtle_text",
            "application/x-turtle": "load_turtle_text",
            # Turtle is a superset of N-Triples, so the same parser serves
            "application/n-triples": "load_turtle_text",
            "application/ld+json": "load_jsonld_text",
            "application/rdf+xml": "load_rdfxml_text",
            "application/trig": "load_trig_text",
            "application/n-quads": "load_nquads_text",
        }

        class _UnsupportedRdfType(ValueError):
            pass

        def _parse_check(self, ctype: str, body: bytes, graph) -> None:
            """Dry-parse an RDF request body (rows discarded). GSP PUT
            runs this BEFORE its destructive CLEAR so a malformed body —
            like an unsupported type — leaves the store untouched; the
            double parse is the price of atomicity on a handler whose
            bodies are interactively sized."""
            from dublin_smart_city_graphdb_spark.sources.jsonld import (
                jsonld_to_rows,
            )
            from dublin_smart_city_graphdb_spark.sources.rdfxml import (
                rdfxml_to_rows,
            )
            from dublin_smart_city_graphdb_spark.sources.turtle import (
                parse_ntriples_lines,
                trig_to_rows,
                turtle_to_rows,
            )

            text = body.decode()
            if ctype in ("", "text/turtle", "application/x-turtle",
                         "application/n-triples"):
                turtle_to_rows(text, graph)
            elif ctype == "application/ld+json":
                jsonld_to_rows(text, graph, bnode_prefix="chk")
            elif ctype == "application/rdf+xml":
                rdfxml_to_rows(text, graph, bnode_prefix="chk")
            elif ctype == "application/trig":
                trig_to_rows(text, graph)
            elif ctype == "application/n-quads":
                list(parse_ntriples_lines(
                    iter(text.splitlines()), allow_graph=True
                ))
            else:
                raise self._UnsupportedRdfType(ctype)

        def _ingest_rdf_body(self, repo, ctype: str, body: bytes, graph):
            """Dispatch an RDF request body by content type. Missing/empty
            Content-Type defaults to Turtle (matching RDF4J's behaviour
            for untyped uploads); a PRESENT but unrecognized RDF type is
            415 Unsupported Media Type (RDF4J parity), not a confusing
            Turtle parse error (ADVICE r4)."""
            if not ctype:
                loader = "load_turtle_text"
            else:
                loader = self._RDF_LOADERS.get(ctype)
                if loader is None:
                    raise self._UnsupportedRdfType(ctype)
            getattr(repo, loader)(body.decode(), graph=graph)

        def _gsp_target(self, url):
            """(repo, graph_iri|None) for a Graph Store Protocol URL, or
            None after sending the error. graph=None means the default
            graph (?default)."""
            parts = [p for p in url.path.split("/") if p]
            if not (
                len(parts) == 4
                and parts[0] == "repositories"
                and parts[2:] == ["rdf-graphs", "service"]
            ):
                return False  # not a GSP route
            repo = self._repo(parts[1])
            if repo is None:
                return None
            # keep_blank_values: "?default" and "?graph=X&default" both
            # carry a valueless key that the default parse drops
            qs = urllib.parse.parse_qs(url.query, keep_blank_values=True)
            has_default = "default" in qs or url.query == "default"
            graph = (qs.get("graph") or [None])[0]
            if has_default and graph is not None:
                # spec: exactly ONE of ?graph= / ?default names the target;
                # both together is an ambiguous request, not a preference
                self._send(
                    400, {"error": "graph and default are mutually exclusive"}
                )
                return None
            if has_default:
                return repo, None
            if graph is None:
                self._send(400, {"error": "graph or default parameter required"})
                return None
            return repo, graph.strip("<>")

        def _txn(self, parts):
            """(txid, Transaction) for /repositories/{r}/transactions/{id},
            else None (404 already sent)."""
            txid = parts[3]
            tx = txns.get(txid)
            if tx is None:
                self._send(404, {"error": f"unknown transaction {txid!r}"})
                return None
            return txid, tx

        # -- routes ----------------------------------------------------------
        def do_PUT(self):
            url = urllib.parse.urlparse(self.path)
            parts = [p for p in url.path.split("/") if p]
            if (
                len(parts) == 4
                and parts[0] == "repositories"
                and parts[2] == "namespaces"
            ):
                repo = self._repo(parts[1])
                if repo is None:
                    return
                repo.namespaces[parts[3]] = self._body().decode().strip()
                self._send(204, "")
                return
            if (
                len(parts) == 4
                and parts[0] == "repositories"
                and parts[2] == "transactions"
            ):
                # RDF4J transaction protocol: PUT {txn}?action=...
                got = self._txn(parts)
                if got is None:
                    return
                txid, tx = got
                qs = urllib.parse.parse_qs(url.query)
                action = (qs.get("action") or [""])[0].upper()
                body = self._body()
                try:
                    if action == "ADD":
                        ctx = (qs.get("context") or [None])[0]
                        tx.add_turtle(body.decode(), graph=ctx and ctx.strip("<>"))
                        self._send(200, "")
                    elif action == "DELETE":
                        ctx = (qs.get("context") or [None])[0]
                        tx.delete_turtle(
                            body.decode(), graph=ctx and ctx.strip("<>")
                        )
                        self._send(200, "")
                    elif action == "UPDATE":
                        update = (qs.get("update") or [body.decode()])[0]
                        tx.update(update)
                        self._send(200, "")
                    elif action == "QUERY":
                        query = (qs.get("query") or [body.decode()])[0]
                        from dublin_smart_city_graphdb_spark.sparql.protocol import (
                            rows_to_json,
                            select_result_chunks,
                        )

                        df = tx.query(query)
                        # SELECT results stream exactly like the main
                        # query endpoint (VERDICT r8 task 3): chunked
                        # results-JSON over toLocalIterator against the
                        # transaction snapshot — a large SELECT inside a
                        # transaction never sits on the driver as one
                        # collected list. ASK stays buffered (one row).
                        chunks = select_result_chunks(df)
                        if chunks is not None:
                            self._send_chunks(
                                200, chunks,
                                "application/sparql-results+json",
                            )
                        else:
                            doc = rows_to_json(df.columns, df.collect())
                            self._send(200, doc)
                    elif action == "COMMIT":
                        tx.commit()
                        txns.pop(txid, None)
                        self._send(200, "")
                    else:
                        self._send(400, {"error": f"unknown action {action!r}"})
                except _StreamAborted:
                    return  # connection already mid-stream; only abort
                except ShaclViolationError as ex:
                    self._send_shacl(ex)
                except Exception as ex:  # noqa: BLE001
                    self._send(400, {"error": str(ex)})
                return
            t = self._gsp_target(url)
            if t is None:
                return
            if t is False:
                self._send(404, {"error": "not found"})
                return
            repo, graph = t
            try:
                # GSP PUT: replace the graph's content with the body.
                # Dry-parse BEFORE the destructive CLEAR — a 415 or a
                # malformed body must leave the store untouched, not
                # half-replaced (cleared-but-not-filled).
                ctype = (self.headers.get("Content-Type") or "").split(";")[0]
                body = self._body()
                self._parse_check(ctype, body, graph)
                if graph:
                    repo.update(f"CLEAR SILENT GRAPH <{graph}>")
                else:
                    repo.update("CLEAR SILENT DEFAULT")
                self._ingest_rdf_body(repo, ctype, body, graph)
                self._send(204, "")
            except self._UnsupportedRdfType as ex:
                self._send(415, {"error": f"unsupported RDF content type: {ex}"})
            except ShaclViolationError as ex:
                self._send_shacl(ex)
            except Exception as ex:  # noqa: BLE001
                self._send(400, {"error": str(ex)})

        def do_HEAD(self):
            """Graph Store Protocol HEAD (spec §5.4 / RDF4J parity): same
            status + headers a GET of the graph would produce, no body —
            clients probe graph existence and content negotiation without
            paying for an export. Non-GSP routes keep the default 501."""
            url = urllib.parse.urlparse(self.path)
            t = self._gsp_target(url)
            if t is None:
                return
            if t is False:
                self.send_response(501)
                self.end_headers()
                return
            accept = (self.headers.get("Accept", "") or "").split(",")[0]
            accept = accept.split(";")[0].strip()
            ctype = accept if accept and accept != "*/*" else "text/turtle"
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.end_headers()

        def do_GET(self):
            url = urllib.parse.urlparse(self.path)
            parts = [p for p in url.path.split("/") if p]
            if parts == ["rest", "monitor", "query"]:
                # running-query listing (GraphDB query monitor surface):
                # [{id, repository, query, elapsed_s}]
                self._send(200, engine.running_queries())
                return
            if parts == ["protocol"]:
                # RDF4J protocol-version resource (clients probe it first)
                self._send(200, "12", "text/plain")
                return
            if (
                len(parts) >= 3
                and parts[0] == "repositories"
                and parts[2] == "namespaces"
            ):
                repo = self._repo(parts[1])
                if repo is None:
                    return
                if len(parts) == 4:
                    ns = repo.namespaces.get(parts[3])
                    if ns is None:
                        self._send(404, {"error": f"no namespace {parts[3]!r}"})
                    else:
                        self._send(200, ns, "text/plain")
                    return
                doc = {
                    "head": {"vars": ["prefix", "namespace"]},
                    "results": {"bindings": [
                        {
                            "prefix": {"type": "literal", "value": p_},
                            "namespace": {"type": "literal", "value": ns},
                        }
                        for p_, ns in sorted(repo.namespaces.items())
                    ]},
                }
                self._send(200, doc, "application/sparql-results+json")
                return
            if (
                len(parts) == 3
                and parts[0] == "repositories"
                and parts[2] == "explain"
            ):
                # query-plan inspection (GraphDB's query explain surface):
                # the physical plan Spark will execute, as text/plain
                repo = self._repo(parts[1])
                if repo is None:
                    return
                qs = urllib.parse.parse_qs(url.query)
                query = (qs.get("query") or [None])[0]
                if not query:
                    self._send(400, {"error": "missing query parameter"})
                    return
                mode = (qs.get("mode") or ["formatted"])[0]
                try:
                    self._send(200, repo.explain(query, mode=mode),
                               "text/plain")
                except Exception as ex:  # noqa: BLE001
                    self._send(400, {"error": str(ex)})
                return
            if (
                len(parts) == 3
                and parts[0] == "repositories"
                and parts[2] == "contexts"
            ):
                # RDF4J context listing: the distinct named graphs, as a
                # one-var result set (the workbench's graph dropdown)
                repo = self._repo(parts[1])
                if repo is None:
                    return
                from dublin_smart_city_graphdb_spark.model.schema import (
                    INFERRED_GRAPH,
                )

                ctxs = sorted(
                    r["g"]
                    for r in repo.quads.select("g").distinct().collect()
                    if r["g"] is not None and r["g"] != INFERRED_GRAPH
                )
                doc = {
                    "head": {"vars": ["contextID"]},
                    "results": {"bindings": [
                        {"contextID": {"type": "uri", "value": g}}
                        for g in ctxs
                    ]},
                }
                self._send(200, doc, "application/sparql-results+json")
                return
            t = self._gsp_target(url)
            if t is None:
                return
            if t is not False:
                repo, graph = t
                quads = repo.quads
                quads = (
                    quads.filter(F.col("g") == graph)
                    if graph
                    else quads.filter(F.col("g").isNull())
                )
                accept = self.headers.get("Accept", "") or ""
                self._export_quads(quads, accept, nquads_ok=False)
                return
            if parts == ["rest", "repositories"]:
                self._send(200, [{"id": r} for r in engine.list_repositories()])
                return
            if (
                len(parts) == 3
                and parts[0] == "repositories"
                and parts[2] == "size"
            ):
                # RDF4J-protocol size resource: statement count as plain text
                repo = self._repo(parts[1])
                if repo is None:
                    return
                self._send(200, str(repo.count()), "text/plain")
                return
            if (
                len(parts) == 3
                and parts[0] == "repositories"
                and parts[2] == "statements"
            ):
                # statements export: N-Quads and TriG keep graph labels,
                # N-Triples flattens, RDF/XML covers the typed-literal
                # surface; graph-scoped via ?context=<iri>
                repo = self._repo(parts[1])
                if repo is None:
                    return
                quads = repo.quads
                qs = urllib.parse.parse_qs(url.query)
                ctx = (qs.get("context") or [None])[0]
                if ctx:
                    quads = quads.filter(F.col("g") == ctx.strip("<>"))
                accept = self.headers.get("Accept") or ""
                self._export_quads(quads, accept, nquads_ok=True)
                return
            if len(parts) == 2 and parts[0] == "repositories":
                repo = self._repo(parts[1])
                if repo is None:
                    return
                qs = urllib.parse.parse_qs(url.query)
                query = (qs.get("query") or [None])[0]
                if not query:
                    self._send(400, {"error": "missing query parameter"})
                    return
                infer = (qs.get("infer") or ["true"])[0].lower() != "false"
                self._answer_query(repo, query, infer)
                return
            self._send(404, {"error": "not found"})

        def do_POST(self):
            url = urllib.parse.urlparse(self.path)
            parts = [p for p in url.path.split("/") if p]
            ctype = (self.headers.get("Content-Type") or "").split(";")[0]
            body = self._body()

            t = self._gsp_target(url)
            if t is None:
                return
            if t is not False:
                repo, graph = t
                try:
                    # GSP POST: merge the body into the graph
                    self._ingest_rdf_body(repo, ctype, body, graph)
                    self._send(204, "")
                except self._UnsupportedRdfType as ex:
                    self._send(415, {"error": f"unsupported RDF content type: {ex}"})
                except ShaclViolationError as ex:
                    self._send_shacl(ex)
                except Exception as ex:  # noqa: BLE001
                    self._send(400, {"error": str(ex)})
                return

            if (
                len(parts) == 3
                and parts[0] == "repositories"
                and parts[2] == "transactions"
            ):
                # RDF4J: POST /repositories/{r}/transactions → new txn
                repo = self._repo(parts[1])
                if repo is None:
                    return
                txid = f"tx{next(txn_seq)}"
                txns[txid] = repo.begin()
                loc = f"/repositories/{parts[1]}/transactions/{txid}"
                body_json = json.dumps({"id": txid}).encode()
                self.send_response(201)
                self.send_header("Location", loc)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body_json)))
                self.end_headers()
                self.wfile.write(body_json)
                return

            if parts == ["rest", "repositories"]:
                # reference config shape: {"id": ..., "params": {...}}
                cfg = json.loads(body or b"{}")
                name = cfg.get("id")
                if not name:
                    self._send(400, {"error": "missing repository id"})
                    return
                params = cfg.get("params", {})
                ruleset = params.get("ruleset", {}).get("value", "rdfsplus")
                timeout = float(
                    params.get("queryTimeout", {}).get("value", 30)
                )
                enforce = str(
                    params.get("shaclEnforce", {}).get("value", "false")
                ).lower() == "true"
                engine.create_repository(
                    name, ruleset=ruleset, query_timeout=timeout,
                    shacl_enforce=enforce,
                )
                self._send(201, {"id": name})
                return

            if len(parts) == 3 and parts[0] == "repositories" and parts[2] == "shacl":
                # SHACL validation: POST a shapes document (text/turtle),
                # get the validation report back as JSON — the batch face
                # of the GraphDB/RDF4J SHACL engine surface. An EMPTY body
                # validates against the STORED shapes graph (the shape set
                # shacl_enforce repositories check on every commit).
                repo = self._repo(parts[1])
                if repo is None:
                    return
                try:
                    report = (
                        repo.validate_shacl(body.decode())
                        if body.strip()
                        else repo.validate_shacl_stored()
                    )
                    rows = report.limit(1001).collect()
                    truncated = len(rows) > 1000
                    payload = {
                        "conforms": not rows,
                        "truncated": truncated,
                        "violations": [r.asDict() for r in rows[:1000]],
                    }
                    self._send(200, payload)
                except Exception as ex:  # noqa: BLE001
                    self._send(400, {"error": str(ex)})
                return

            if len(parts) == 3 and parts[0] == "repositories" and parts[2] == "statements":
                repo = self._repo(parts[1])
                if repo is None:
                    return
                try:
                    if ctype in self._RDF_LOADERS:
                        qs = urllib.parse.parse_qs(url.query)
                        graph = (qs.get("context") or [None])[0]
                        self._ingest_rdf_body(repo, ctype, body, graph)
                        self._send(204, "")
                    else:  # SPARQL update: form-encoded or raw body
                        if ctype == "application/x-www-form-urlencoded":
                            form = urllib.parse.parse_qs(body.decode())
                            update = (form.get("update") or [""])[0]
                        else:
                            update = body.decode()
                        repo.update(update)
                        self._send(204, "")
                except ShaclViolationError as ex:
                    self._send_shacl(ex)
                except Exception as ex:  # noqa: BLE001
                    self._send(400, {"error": str(ex)})
                return

            if len(parts) == 2 and parts[0] == "repositories":
                repo = self._repo(parts[1])
                if repo is None:
                    return
                if ctype == "application/x-www-form-urlencoded":
                    form = urllib.parse.parse_qs(body.decode())
                    query = (form.get("query") or [""])[0]
                    infer = (form.get("infer") or ["true"])[0].lower() != "false"
                else:
                    query = body.decode()
                    qs = urllib.parse.parse_qs(url.query)
                    infer = (qs.get("infer") or ["true"])[0].lower() != "false"
                self._answer_query(repo, query, infer)
                return
            self._send(404, {"error": "not found"})

        def do_DELETE(self):
            # DELETE /rest/repositories/{id} — the reference REST surface's
            # teardown path (idempotent like create)
            url = urllib.parse.urlparse(self.path)
            parts = [p for p in url.path.split("/") if p]
            if parts == ["rest", "monitor", "query"]:
                # abort-all (GraphDB query monitor): every abortable
                # running query's job group is cancelled
                self._send(200, {"aborted": engine.abort_all_queries()})
                return
            if len(parts) == 4 and parts[:3] == ["rest", "monitor", "query"]:
                # abort a running query by track id (GraphDB query monitor)
                if engine.abort_query(parts[3]):
                    self._send(200, {"aborted": parts[3]})
                else:
                    self._send(404, {"error": f"no running query {parts[3]!r}"})
                return
            if (
                len(parts) == 4
                and parts[0] == "repositories"
                and parts[2] == "namespaces"
            ):
                repo = self._repo(parts[1])
                if repo is None:
                    return
                repo.namespaces.pop(parts[3], None)
                self._send(204, "")
                return
            if (
                len(parts) == 4
                and parts[0] == "repositories"
                and parts[2] == "transactions"
            ):
                # RDF4J: DELETE {txn} → rollback
                got = self._txn(parts)
                if got is None:
                    return
                txid, tx = got
                tx.rollback()
                txns.pop(txid, None)
                self._send(204, "")
                return
            t = self._gsp_target(url)
            if t is None:
                return
            if t is not False:
                repo, graph = t
                try:
                    if graph:
                        repo.update(f"CLEAR SILENT GRAPH <{graph}>")
                    else:
                        repo.update("CLEAR SILENT DEFAULT")
                    self._send(204, "")
                except ShaclViolationError as ex:
                    self._send_shacl(ex)
                except Exception as ex:  # noqa: BLE001
                    self._send(400, {"error": str(ex)})
                return
            if len(parts) == 3 and parts[:2] == ["rest", "repositories"]:
                if engine.drop_repository(parts[2]):
                    self._send(204, "")
                else:
                    self._send(404, {"error": f"no repository {parts[2]!r}"})
                return
            if (
                len(parts) == 3
                and parts[0] == "repositories"
                and parts[2] == "statements"
            ):
                # DELETE statements: clear the repository (or one named
                # graph via ?context=<iri>) — the RDF4J-protocol clear
                repo = self._repo(parts[1])
                if repo is None:
                    return
                qs = urllib.parse.parse_qs(url.query)
                ctx = (qs.get("context") or [None])[0]
                try:
                    if ctx:
                        repo.update(f"CLEAR GRAPH <{ctx.strip('<>')}>")
                    else:
                        repo.update("CLEAR ALL")
                    self._send(204, "")
                except ShaclViolationError as ex:
                    self._send_shacl(ex)
                except Exception as ex:  # noqa: BLE001
                    self._send(400, {"error": str(ex)})
                return
            self._send(404, {"error": "not found"})

    return Handler


class SparqlHttpServer:
    """Serve an Engine over the SPARQL protocol; ``port=0`` picks a free
    port (exposed as ``.port``)."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0):
        self._httpd = ThreadingHTTPServer((host, port), _make_handler(engine))
        self.engine = engine
        self.host = host
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "SparqlHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
