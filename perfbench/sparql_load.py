"""SPARQL-over-HTTP workloads on the Dublin facilities graph.

The engine serves a persistent (``warehouse``) repository with the
``rdfsplus`` ruleset through ``SparqlHttpServer``; benchmark clients talk
to it over HTTP only. Query texts come from eight templates (the
reference's six acceptance queries, an OPTIONAL query and a GeoSPARQL
polygon query). Every response is checked afterwards against a
pure-Python oracle over the same generated fixture.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import threading
import time
import urllib.parse
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

EX = "http://example.org/dcc/facilities#"
SCHEMA = "http://schema.org/"
PROLOG = (
    f"PREFIX ex: <{EX}>\nPREFIX schema: <{SCHEMA}>\n"
    "PREFIX geo: <http://www.opengis.net/ont/geosparql#>\n"
    "PREFIX geof: <http://www.opengis.net/def/function/geosparql/>\n"
    "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"
)
REPO = "dublin"
# facilities in the generated fixture (fixtures.full_fixture_ttl)
FACILITIES = 2000
WRITE_BATCH = 10  # facilities per Turtle append / DELETE DATA

TEMPLATES = [
    "readme", "count_all", "count_by_type", "areas_without_type",
    "facilities_in_area", "bbox", "optional_url", "sf_within",
]
# the fixed texts of read_repeat: the reference's acceptance queries
REPEAT_PARAMS = {
    "readme": {"limit": 10},
    "count_all": {},
    "count_by_type": {},
    "areas_without_type": {"type": "Park"},
    "facilities_in_area": {"area": "NorthCentral"},
    "bbox": {"lat0": "53.34", "lat1": "53.36", "lon0": "-6.27", "lon1": "-6.25"},
    "optional_url": {},
    "sf_within": {
        "lat0": "53.3400005", "lat1": "53.3600005",
        "lon0": "-6.2700005", "lon1": "-6.2500005",
    },
}


def query_text(template: str, p: dict) -> str:
    limit = f"\nLIMIT {p['limit']}" if "limit" in p else ""
    if template == "readme":
        body = (
            "SELECT ?name ?type WHERE {\n  ?facility a ex:Facility ; "
            "schema:name ?name ; ex:hasFacilityType ?type .\n}"
        )
    elif template == "count_all":
        body = "SELECT (COUNT(*) AS ?count) WHERE { ?s ?p ?o }"
    elif template == "count_by_type":
        body = (
            "SELECT ?type (COUNT(?facility) AS ?count)\nWHERE { ?facility "
            "ex:hasFacilityType ?type } GROUP BY ?type"
        )
    elif template == "areas_without_type":
        body = (
            "SELECT ?area WHERE {\n  ?area a ex:CommitteeArea .\n"
            "  FILTER NOT EXISTS {\n    ?facility ex:hasFacilityType "
            f"ex:{p['type']} ; ex:inCommitteeArea ?area .\n  }}\n}}"
        )
    elif template == "facilities_in_area":
        body = (
            f"SELECT ?name ?type WHERE {{\n  ?facility ex:inCommitteeArea "
            f"ex:{p['area']} ;\n    schema:name ?name ; "
            "ex:hasFacilityType ?type .\n}"
        )
    elif template == "bbox":
        body = (
            "SELECT ?facility ?name WHERE {\n  ?facility schema:name ?name ; "
            "ex:latitude ?lat ; ex:longitude ?lon .\n"
            f"  FILTER(?lat > {p['lat0']} && ?lat < {p['lat1']} && "
            f"?lon > {p['lon0']} && ?lon < {p['lon1']})\n}}"
        )
    elif template == "optional_url":
        body = (
            "SELECT ?f ?u WHERE {\n  ?f a ex:Facility .\n"
            "  OPTIONAL { ?f schema:url ?u }\n}"
        )
    else:  # sf_within
        x0, x1, y0, y1 = p["lon0"], p["lon1"], p["lat0"], p["lat1"]
        poly = f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
        body = (
            "SELECT ?f WHERE {\n  ?f geo:hasGeometry ?g . ?g geo:asWKT ?w .\n"
            f'  FILTER(geof:sfWithin(?w, "{poly}"^^geo:wktLiteral))\n}}'
        )
    return PROLOG + body + limit


def _coord(x: float) -> str:
    # 7 decimals ending in 5: no 6-decimal fixture coordinate can sit on
    # the boundary, so strict and closed comparisons agree
    return f"{x:.6f}5"


class ParamSource:
    """Seeded stream of unseen query texts over the eight templates,
    visited round-robin so every run sees the same template mix."""

    def __init__(self, seed: int):
        from dublin_smart_city_graphdb_spark import fixtures

        self.rng = random.Random(seed * 7919 + 1)
        self.areas, self.types = list(fixtures.AREAS), fixtures.FACILITY_TYPES
        self.seen: set[str] = set()
        self.i = 0
        self.lock = threading.Lock()

    def _params(self, template: str) -> dict:
        r = self.rng
        if template in ("readme", "optional_url"):
            return {"limit": r.randint(1, 1_000_000)}
        p: dict = {"limit": r.randint(FACILITIES * 20, 10_000_000)}
        if template == "areas_without_type":
            p["type"] = r.choice(self.types)
        elif template == "facilities_in_area":
            p["area"] = r.choice(self.areas)
        elif template in ("bbox", "sf_within"):
            # a fixed-size box at a random corner: about 5% of the
            # facilities, so every run asks for similar work
            lat, lon = r.uniform(53.20, 53.40), r.uniform(-6.45, -6.15)
            p.update(
                lat0=_coord(lat), lat1=_coord(lat + 0.05),
                lon0=_coord(lon), lon1=_coord(lon + 0.1),
            )
        return p

    def next(self) -> tuple[str, dict, str]:
        with self.lock:
            template = TEMPLATES[self.i % len(TEMPLATES)]
            self.i += 1
            while True:
                p = self._params(template)
                text = query_text(template, p)
                if text not in self.seen:
                    self.seen.add(text)
                    return template, p, text


class RepeatSource:
    """The eight fixed texts, round-robin."""

    def __init__(self):
        self.i = 0
        self.lock = threading.Lock()

    def next(self) -> tuple[str, dict, str]:
        with self.lock:
            template = TEMPLATES[self.i % len(TEMPLATES)]
            self.i += 1
        p = REPEAT_PARAMS[template]
        return template, p, query_text(template, p)


# -- HTTP client ----------------------------------------------------------------

class Client:
    def __init__(self, port: int):
        self.port = port
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()

    def request(self, method: str, path: str, body: bytes | None = None,
                ctype: str | None = None) -> tuple[int, bytes, str]:
        with self._lock:
            req = f"r{next(self._ids)}"
        headers = {
            "Accept": "application/sparql-results+json",
            "X-Perfbench-Request": req,
        }
        if ctype:
            headers["Content-Type"] = ctype
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read(), req
        finally:
            conn.close()

    def query(self, text: str) -> tuple[int, bytes, str]:
        return self.request(
            "GET", f"/repositories/{REPO}?query=" + urllib.parse.quote(text)
        )


# -- oracle -------------------------------------------------------------------

class FacilityModel:
    """The facilities of one store state, from parsed fixture triples."""

    def __init__(self, facilities: dict[str, dict], areas: list[str]):
        self.fac = facilities
        self.areas = areas

    @classmethod
    def from_triples(cls, triples) -> "FacilityModel":
        fac: dict[str, dict] = {}
        areas = []
        geom: dict[str, str] = {}
        wkt: dict[str, str] = {}
        for s, p, o in triples:
            pv, sv = p.value, s.value
            ov = getattr(o, "lex", None) or getattr(o, "value", None)
            if pv.endswith("#type") and ov == EX + "CommitteeArea":
                areas.append(sv)
            elif pv == EX + "hasFacilityType":
                fac.setdefault(sv, {})["type"] = ov
            elif pv == EX + "inCommitteeArea":
                fac.setdefault(sv, {})["area"] = ov
            elif pv == SCHEMA + "name" and sv.startswith(EX + "facility_"):
                fac.setdefault(sv, {})["name"] = ov
            elif pv == SCHEMA + "url":
                fac.setdefault(sv, {})["url"] = ov
            elif pv == EX + "latitude":
                fac.setdefault(sv, {})["lat"] = float(ov)
            elif pv == EX + "longitude":
                fac.setdefault(sv, {})["lon"] = float(ov)
            elif pv.endswith("#hasGeometry"):
                geom[sv] = ov
            elif pv.endswith("#asWKT"):
                wkt[sv] = ov
        for f, g in geom.items():
            x, y = wkt[g][len("POINT("):-1].split()
            fac[f]["wkt_lon"], fac[f]["wkt_lat"] = float(x), float(y)
        return cls(fac, sorted(areas))

    def plus(self, batch: dict[str, dict]) -> "FacilityModel":
        return FacilityModel({**self.fac, **batch}, self.areas)


def batch_facilities(seed: int, k: int, types: list[str], areas: list[str]):
    """Write batch ``k``: facility IRI → attributes (seeded)."""
    rng = random.Random(seed * 104729 + k)
    out = {}
    for j in range(WRITE_BATCH):
        ftype = rng.choice(types)
        area = rng.choice(areas)
        if ftype == EX + "Park" and area == EX + "NorthWest":
            area = EX + "NorthCentral"
        lat = round(rng.uniform(53.20, 53.45), 6)
        lon = round(rng.uniform(-6.45, -6.05), 6)
        f = {
            "type": ftype, "area": area, "name": f"Bench {seed} {k} {j}",
            "lat": lat, "lon": lon, "wkt_lat": lat, "wkt_lon": lon,
        }
        if rng.random() < 0.3:
            f["url"] = f"https://dublin.example/bench/{seed}/{k}/{j}"
        out[f"{EX}perfbench_{seed}_{k}_{j}"] = f
    return out


def batch_triples(batch: dict[str, dict]) -> str:
    """The batch as triple statements valid in Turtle and DELETE DATA."""
    lines = []
    for iri, f in batch.items():
        g = iri.replace("perfbench_", "perfbench_geom_")
        url = (
            f'    schema:url "{f["url"]}"^^xsd:anyURI ;\n' if "url" in f else ""
        )
        lines.append(
            f"<{iri}> a ex:Facility ;\n"
            f"    ex:hasFacilityType <{f['type']}> ;\n"
            f"    ex:inCommitteeArea <{f['area']}> ;\n"
            f'    schema:name "{f["name"]}" ;\n{url}'
            f"    ex:latitude {f['lat']:.6f} ;\n"
            f"    ex:longitude {f['lon']:.6f} ;\n"
            f"    geo:hasGeometry <{g}> .\n"
            f'<{g}> geo:asWKT "POINT({f["lon"]:.6f} {f["lat"]:.6f})"'
            "^^geo:wktLiteral ."
        )
    return "\n".join(lines) + "\n"


def _val(b: dict, var: str):
    t = b.get(var)
    return None if t is None else t["value"]


def check(template: str, p: dict, body: bytes, m: FacilityModel,
          count: int) -> bool:
    """Does a results-JSON body answer the query for state ``m`` (whose
    store holds ``count`` quads)?"""
    rows = json.loads(body)["results"]["bindings"]
    fac = m.fac
    n = len(fac)
    if template == "readme":
        pairs = {(f["name"], f["type"]) for f in fac.values()}
        return len(rows) == min(p["limit"], n) and all(
            (_val(r, "name"), _val(r, "type")) in pairs for r in rows
        )
    if template == "count_all":
        return len(rows) == 1 and int(_val(rows[0], "count")) == count
    if template == "count_by_type":
        got = {_val(r, "type"): int(_val(r, "count")) for r in rows}
        return len(got) == len(rows) and got == dict(
            Counter(f["type"] for f in fac.values())
        )
    if template == "areas_without_type":
        t = EX + p["type"]
        held = {f["area"] for f in fac.values() if f["type"] == t}
        return sorted(_val(r, "area") for r in rows) == [
            a for a in m.areas if a not in held
        ]
    if template == "facilities_in_area":
        a = EX + p["area"]
        want = Counter(
            (f["name"], f["type"]) for f in fac.values() if f["area"] == a
        )
        return Counter((_val(r, "name"), _val(r, "type")) for r in rows) == want
    if template == "bbox":
        lo_a, hi_a = float(p["lat0"]), float(p["lat1"])
        lo_o, hi_o = float(p["lon0"]), float(p["lon1"])
        want = Counter(
            (iri, f["name"]) for iri, f in fac.items()
            if lo_a < f["lat"] < hi_a and lo_o < f["lon"] < hi_o
        )
        got = Counter((_val(r, "facility"), _val(r, "name")) for r in rows)
        return got == want
    if template == "optional_url":
        seen = [(_val(r, "f"), _val(r, "u")) for r in rows]
        return (
            len(seen) == min(p.get("limit", n), n)
            and len({f for f, _ in seen}) == len(seen)
            and all(f in fac and fac[f].get("url") == u for f, u in seen)
        )
    # sf_within
    lo_a, hi_a = float(p["lat0"]), float(p["lat1"])
    lo_o, hi_o = float(p["lon0"]), float(p["lon1"])
    want = Counter(
        iri for iri, f in fac.items()
        if lo_a < f["wkt_lat"] < hi_a and lo_o < f["wkt_lon"] < hi_o
    )
    return Counter(_val(r, "f") for r in rows) == want


# -- store shape --------------------------------------------------------------

def store_shape(path: str, since: float) -> dict:
    """Parquet files, total bytes, and bytes in files written after
    ``since`` (wall clock) under the repository's quad store."""
    files = total = written = 0
    for root, _, names in os.walk(path):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(root, name))
            files += 1
            total += st.st_size
            if st.st_mtime >= since:
                written += st.st_size
    return {"files": files, "bytes": total, "bytes_written": written}


# -- workload -------------------------------------------------------------------

class SparqlBench:
    def __init__(self, spark, work: str, seed: int, tracer):
        from dublin_smart_city_graphdb_spark import fixtures
        from dublin_smart_city_graphdb_spark.engine import Engine
        from dublin_smart_city_graphdb_spark.protocol_http import (
            SparqlHttpServer,
        )

        self.seed = seed
        self.tracer = tracer
        self.warehouse = os.path.join(work, "warehouse")
        self.engine = Engine(spark, warehouse=self.warehouse)
        self.server = SparqlHttpServer(self.engine).start()
        self.client = Client(self.server.port)
        self.fixture = fixtures.full_fixture_ttl(FACILITIES, seed)
        self.areas = [EX + a for a in fixtures.AREAS]
        self.types = [EX + t for t in fixtures.FACILITY_TYPES]
        self.samples: list[dict] = []
        self.commits: list[dict] = []
        self.failures: list[str] = []
        self.lock = threading.Lock()
        # read-phase gate: phase is the store state readers may query
        # (None: closed), inflight counts their requests on the wire
        self.cond = threading.Condition()
        self.phase: int | None = None
        self.inflight = 0
        self.finished = False
        self.read_s = 0.0

    def load(self) -> tuple[float, str]:
        """Create the repository and bulk-load the fixture over HTTP, as
        the first work of a fresh server: (wall time in s, request id)."""
        cfg = {"id": REPO, "params": {"ruleset": {"value": "rdfsplus"}}}
        st, body, _ = self.client.request(
            "POST", "/rest/repositories", json.dumps(cfg).encode(),
            "application/json",
        )
        if st != 201:
            raise RuntimeError(f"create repository: {st} {body[:200]!r}")
        t0 = time.perf_counter()
        st, body, req = self.client.request(
            "POST", f"/repositories/{REPO}/statements", self.fixture.encode(),
            "text/turtle",
        )
        dt = time.perf_counter() - t0
        if st != 204:
            raise RuntimeError(f"bulk load: {st} {body[:200]!r}")
        self.repo = self.engine.repository(REPO)
        self.base_count = self.repo.count()
        return dt, req

    def warm(self) -> None:
        """One untimed pass over the eight fixed texts, two at a time."""

        def one(template: str) -> None:
            st, body, _ = self.client.query(
                query_text(template, REPEAT_PARAMS[template])
            )
            if st != 200:
                raise RuntimeError(f"warm-up {template}: {st} {body[:300]!r}")

        with ThreadPoolExecutor(2) as pool:
            list(pool.map(one, TEMPLATES))

    # -- closed loops ------------------------------------------------------------
    # Reads and commits alternate: a read in flight while a commit
    # overwrites the persistent store fails with FILE_NOT_EXIST (the
    # overwrite deletes the files the read was planned against), so
    # readers run only in read phases and every commit waits for the
    # reads in flight to finish.
    def reader(self, source) -> None:
        while True:
            with self.cond:
                self.cond.wait_for(lambda: self.phase is not None or self.finished)
                if self.phase is None:
                    return
                state = self.phase
                self.inflight += 1
            try:
                template, p, text = source.next()
                self.tracer.set_request(None)
                with self.tracer.span("protocol_http.request") as sp:
                    t0 = time.perf_counter()
                    st, body, req = self.client.query(text)
                    dt = time.perf_counter() - t0
                    if sp is not None:
                        sp.req = req
                with self.lock:
                    self.samples.append({
                        "template": template, "params": p, "status": st,
                        "body": body, "s": dt, "req": req, "state": state,
                    })
            finally:
                with self.cond:
                    self.inflight -= 1
                    self.cond.notify_all()

    def read_phase(self, seconds: float, state: int) -> None:
        """Let the readers run for ``seconds`` against store state
        ``state`` (0: as loaded, k + 1: with write batch k), then wait for
        the reads in flight."""
        t0 = time.perf_counter()
        with self.cond:
            self.phase = state
            self.cond.notify_all()
        time.sleep(seconds)
        with self.cond:
            self.phase = None
            self.cond.wait_for(lambda: self.inflight == 0)
        self.read_s += time.perf_counter() - t0

    def finish(self) -> None:
        with self.cond:
            self.finished = True
            self.cond.notify_all()

    def write_cycles(self, deadline: float, read_s: float) -> None:
        """Append/delete cycles until the deadline (at least one), each
        commit followed by a read phase of ``read_s`` seconds."""
        k = 0
        store = os.path.join(self.warehouse, REPO, "quads")
        while k == 0 or time.perf_counter() < deadline:
            batch = batch_facilities(self.seed, k, self.types, self.areas)
            triples = batch_triples(batch)
            turtle = PROLOG.replace("PREFIX ", "@prefix ").replace(">\n", "> .\n")
            turtle += triples
            update = PROLOG + "DELETE DATA {\n" + triples + "}"
            cycle = {"k": k, "batch": batch}
            self.commits.append(cycle)
            for kind, body, ctype, state in (
                ("append", turtle.encode(), "text/turtle", k + 1),
                ("delete", urllib.parse.urlencode({"update": update}).encode(),
                 "application/x-www-form-urlencoded", 0),
            ):
                wall = time.time()
                with self.tracer.span("protocol_http.request") as sp:
                    t0 = time.perf_counter()
                    st, resp, req = self.client.request(
                        "POST", f"/repositories/{REPO}/statements", body, ctype
                    )
                    dt = time.perf_counter() - t0
                    if sp is not None:
                        sp.req = req
                cycle[kind] = {
                    "s": dt, "status": st, "count": self.repo.count(),
                    "req": req, "body_bytes": len(body),
                    **store_shape(store, wall),
                }
                if st != 204:
                    self.failures.append(f"{kind} {k}: {st} {resp[:200]!r}")
                self.read_phase(read_s, state)
            k += 1

    def verify(self) -> tuple[int, int]:
        """(attempted, failed) over every timed request and commit."""
        from dublin_smart_city_graphdb_spark.sources.turtle import parse_turtle

        triples = parse_turtle(self.fixture)
        base = FacilityModel.from_triples(triples)
        self.explicit_quads = len(triples)
        states = [(base, self.base_count)] + [
            (base.plus(c["batch"]), c["append"]["count"]) for c in self.commits
        ]
        failed = 0
        for c in self.commits:
            for kind in ("append", "delete"):
                if c[kind]["status"] != 204:
                    failed += 1
            # the store is back to the loaded state after every cycle
            if c["delete"]["count"] != self.base_count:
                failed += 1
                self.failures.append(
                    f"cycle {c['k']}: {c['delete']['count']} quads after "
                    f"delete, expected {self.base_count}"
                )
            if c["append"]["count"] <= self.base_count:
                failed += 1
                self.failures.append(f"cycle {c['k']}: append added nothing")
        for s in self.samples:
            ok = s["status"] == 200
            if ok:
                try:
                    ok = check(s["template"], s["params"], s["body"],
                               *states[s["state"]])
                except (ValueError, KeyError, TypeError):
                    ok = False
            if not ok:
                failed += 1
                self.failures.append(
                    f"{s['template']} {s['params']}: status {s['status']} "
                    f"{s['body'][:160]!r}"
                )
        return len(self.samples) + 2 * len(self.commits), failed

    def stop(self) -> None:
        self.server.stop()
