"""Built-in extension functions (SURVEY §2.9): SPARQL custom-IRI functions
compiled to vectorized Column expressions — JVM trig/math, no Python in the
hot path. Users register their own via ``Engine.register_function`` (a
pandas_udf-returning callable slots in identically when JVM builtins can't
express the semantics).

The flagship is Haversine distance — the reference's own spatial idiom is
lat/lon arithmetic (``facilities.ttl:211-218``), and ``geof:distance``-style
point distance is the natural function form of it (SURVEY §2.7 geo row).

Round 12 (typed geometry representation, guide §1.2/§4): every geo kernel
now parses each WKT argument exactly ONCE — constant geometries at
plan-build time in Python (tagged ``__geo_const__`` at the term boundary
and inlined as literal coordinate arrays), per-row geometries through one
let-bound struct of parsed fields per argument. Kernels consume the parsed
form only; no repeated ``split``/regex WKT subtrees remain inside any
predicate body, which shrinks both the Py4J plan-construction cost and the
per-row interpreted evaluation by roughly the former duplication factor.
"""

from __future__ import annotations

import functools
import operator
import re as _re

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column

from dublin_smart_city_graphdb_spark.model.terms import XSD
from dublin_smart_city_graphdb_spark.sparql.termcol import (
    make_bool,
    make_numeric,
)

FN = "urn:spark-graft:fn:"

_EARTH_RADIUS_KM = 6371.0088


def haversine_km(args: list[Column]) -> Column:
    """fn:haversineKm(lat1, lon1, lat2, lon2) → great-circle km (double)."""
    lat1, lon1, lat2, lon2 = [a["num"].cast("double") for a in args]
    phi1, phi2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(phi1) * F.cos(phi2) * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    d = F.lit(2.0 * _EARTH_RADIUS_KM) * F.asin(F.sqrt(a))
    return make_numeric(d.cast("decimal(38,10)"), XSD + "double")


# proper float pattern: the old character-class form ([0-9.eE+]+)
# silently truncated negative exponents ("1e-5" matched as "1e")
_WKT_NUM = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
_WKT_POINT = rf"^\s*POINT\s*\(\s*({_WKT_NUM})\s+({_WKT_NUM})\s*\)\s*$"


def _wkt_coord(args: list[Column], group: int) -> Column:
    """Extract a coordinate from a ``POINT(lon lat)`` wktLiteral (the
    reference's geometry encoding, facilities.ttl:161-171). Non-POINT or
    malformed input → empty extract → null cast → SPARQL error (row
    dropped in FILTER, unbound in BIND) — never a wrong number."""
    coord = F.regexp_extract(args[0]["lex"], _WKT_POINT, group)
    return make_numeric(
        F.when(coord != "", coord).cast("decimal(38,10)")
    )


def wkt_lon(args: list[Column]) -> Column:
    """fn:wktLon("POINT(lon lat)") → longitude as xsd:decimal."""
    return _wkt_coord(args, 1)


def wkt_lat(args: list[Column]) -> Column:
    """fn:wktLat("POINT(lon lat)") → latitude as xsd:decimal."""
    return _wkt_coord(args, 2)


GEOF = "http://www.opengis.net/def/function/geosparql/"

# all coordinate pairs inside any WKT geometry body: "lon lat"
_WKT_PAIR = rf"({_WKT_NUM})\s+({_WKT_NUM})"


def _geom_lons(col: Column) -> Column:
    return F.transform(
        F.regexp_extract_all(col, F.lit(_WKT_PAIR), 1),
        lambda s: s.cast("double"),
    )


def _geom_lats(col: Column) -> Column:
    return F.transform(
        F.regexp_extract_all(col, F.lit(_WKT_PAIR), 2),
        lambda s: s.cast("double"),
    )


def wkt_within_bbox(args: list[Column]) -> Column:
    """fn:wktWithinBBox(wkt, minLon, minLat, maxLon, maxLat) → xsd:boolean.

    True iff the POINT wktLiteral lies inside the closed bounding box —
    the WKT-native form of the reference's own spatial idiom (a lat/lon
    range FILTER, facilities.ttl:211-218) applied to its ``geo:asWKT``
    POINT geometries (facilities.ttl:161-171). Pure JVM regexp + compare;
    malformed/non-POINT input → null → SPARQL error semantics (row drops
    in FILTER), never a wrong answer."""
    lon = F.regexp_extract(args[0]["lex"], _WKT_POINT, 1)
    lat = F.regexp_extract(args[0]["lex"], _WKT_POINT, 2)
    lon_d = F.when(lon != "", lon).cast("double")
    lat_d = F.when(lat != "", lat).cast("double")
    bounds = [a["num"].cast("double") for a in args[1:5]]
    inside = (
        (lon_d >= bounds[0])
        & (lat_d >= bounds[1])
        & (lon_d <= bounds[2])
        & (lat_d <= bounds[3])
    )
    return make_bool(inside)


# POLYGON body: everything inside the outermost parens — "(r1),(r2),..."
# where the first ring is the shell and the rest are holes
_WKT_POLY_BODY = r"^\s*POLYGON\s*\(\s*(.*\S)\s*\)\s*$"
# Polygonal body: POLYGON or MULTIPOLYGON (round 7). A MULTIPOLYGON's
# members flatten into ONE ring set: valid multipolygon members are
# interior-disjoint, so the even-odd crossing count over ALL rings gives
# union containment exactly (inside exactly one member ⇒ odd), and the
# flat-array edge sweeps see every member's edges. Overlapping members
# (invalid WKT) are outside the exactness envelope, documented.
_WKT_POLYGONAL_BODY = r"^\s*(?:MULTI)?POLYGON\s*\(\s*(.*\S)\s*\)\s*$"
# MULTIPOINT head (members parenthesized or bare per WKT)
_WKT_MPOINT_HEAD = r"^\s*MULTIPOINT\s*\("
# GEOMETRYCOLLECTION member list (non-empty form)
_WKT_GC_BODY = r"^\s*GEOMETRYCOLLECTION\s*\(\s*(.*\S)\s*\)\s*$"
# a WKT head: optional whitespace and an optional CRS IRI prefix
_WKT_HEAD = r"^\s*(?:<[^>]*>\s*)?"
# The three shapes the simple-features predicates cannot serve from the
# JVM kernels (see _sf_predicate): the empty geometry of any head type
# ("GEOMETRYCOLLECTION EMPTY", "POLYGON EMPTY", ...), a mixed-dimension
# GEOMETRYCOLLECTION (point or line members), and bare linework.
_EMPTY_BODY = r"[A-Z]+\s+EMPTY\s*$"
_MIXED_GC_BODY = r"GEOMETRYCOLLECTION\s*\(.*\b(?:POINT|LINESTRING)\b"
_LINEY_BODY = r"(?:MULTI)?LINESTRING\b"
_WKT_EMPTY = r"(?i)" + _WKT_HEAD + _EMPTY_BODY
_WKT_MIXED_GC = r"(?si)" + _WKT_HEAD + _MIXED_GC_BODY
_WKT_LINEY = r"(?si)" + _WKT_HEAD + _LINEY_BODY
# A text matches this iff it matches one of the three above. The
# repository's snapshot flag (``sources/store.snapshot_stats``) is "no
# term text matches it".
WKT_ESCAPE_SHAPE = (
    r"(?si)" + _WKT_HEAD
    + f"(?:{_EMPTY_BODY}|{_MIXED_GC_BODY}|{_LINEY_BODY})"
)

_WKT_LINE_BODY = r"^\s*LINESTRING\s*\(\s*(.*\S)\s*\)\s*$"
_WKT_MLINE_BODY = r"^\s*MULTILINESTRING\s*\(\s*(.*\S)\s*\)\s*$"


def _let(cols: dict, body) -> Column:
    """Single-evaluation let binding for Column expressions. Column trees
    are trees, not DAGs: referencing a derived array N times embeds N
    copies of its whole subtree in the plan, and Catalyst analysis of the
    geo kernels was blowing up on exactly that (the point-to-polygon
    distance compiled in ~70 s). Packing the intermediates into a struct
    and routing them through a one-element ``transform`` makes every
    reference a lambda-variable field access — a leaf — so each heavy
    subtree appears exactly once. ``body`` receives the struct lambda
    variable."""
    packed = F.struct(*[c.alias(k) for k, c in cols.items()])
    return F.get(F.transform(F.array(packed), lambda s: body(s)), 0)


def _flat_ring_coords(rings: Column) -> tuple[Column, Column]:
    """Every ring's vertices flattened into ONE lon array and ONE lat
    array with a null separator after each ring. Any edge (i, i+1)
    spanning a ring boundary sees a null endpoint, its predicate/distance
    evaluates to null, and Spark's filter/exists/array_min all ignore
    null results — so one flat index sweep walks all rings' edges without
    nested per-ring lambdas. This keeps Catalyst's lambda-resolution cost
    LINEAR in the kernel: the earlier per-ring nesting (3-6 lambda
    levels) made plan analysis, not execution, the dominant cost of the
    geo predicates."""
    sep = F.array(F.lit(None).cast("double"))
    xs = F.flatten(
        F.transform(rings, lambda r: F.concat(_geom_lons(r), sep))
    )
    ys = F.flatten(
        F.transform(rings, lambda r: F.concat(_geom_lats(r), sep))
    )
    return xs, ys


def _edge_straddle_left(xs: Column, ys: Column, i, x: Column,
                        y: Column) -> Column:
    """Edge (i, i+1) straddles the horizontal through y with its crossing
    strictly left of x (null when the edge touches a ring separator)."""
    return (
        ((F.get(ys, i) > y) != (F.get(ys, i + 1) > y))
        & (
            x
            < (F.get(xs, i + 1) - F.get(xs, i))
            * (y - F.get(ys, i))
            / (F.get(ys, i + 1) - F.get(ys, i))
            + F.get(xs, i)
        )
    )


def _crossings_flat(xs: Column, ys: Column, x: Column,
                    y: Column) -> Column:
    """Ray-cast crossing count over flat coordinate arrays. Callers MUST
    pass leaf columns (lambda-variable fields / literals) — see _let."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(xs) - 2, F.lit(0)))
    return F.size(
        F.filter(idx, lambda i: _edge_straddle_left(xs, ys, i, x, y))
    )


def _poly_rings(lex: Column) -> Column:
    """Ring coordinate strings of a POLYGON or MULTIPOLYGON lex (a
    multipolygon's members flatten into one ring set — see
    _WKT_POLYGONAL_BODY); empty array otherwise. The separator between
    rings is one-or-more closing parens, comma, one-or-more opening
    parens, which covers both the intra-polygon ``),(`` and the
    inter-member ``)),((`` forms in a single split.

    A GEOMETRYCOLLECTION whose members are ALL polygonal (the form our
    own geof:union/symDifference and SPARQL CONSTRUCT round-trips can
    produce) flattens the same way: member type words drop out and the
    combined ring set keeps even-odd semantics, exactly like
    MULTIPOLYGON members (VERDICT r7 task 3 — self-output consumption).
    Collections containing POINT/LINESTRING members stay outside the
    polygonal path (mixed-dimension predicates: SURVEY §8)."""
    body = F.regexp_extract(lex, _WKT_POLYGONAL_BODY, 1)
    gc = F.regexp_extract(lex, _WKT_GC_BODY, 1)
    gc_poly = F.when(
        (gc != "") & ~gc.rlike(r"(?i)\b(?:POINT|LINESTRING)\b"),
        F.regexp_replace(gc, r"(?i)(?:MULTI)?POLYGON\s*", ""),
    ).otherwise(F.lit(""))
    body = F.when(body != "", body).otherwise(gc_poly)
    rings = F.split(
        F.regexp_replace(
            F.regexp_replace(body, r"^\s*\(+", ""), r"\)+\s*$", ""
        ),
        r"\)+\s*,\s*\(+",
    )
    return F.when(body != "", rings).otherwise(
        F.array().cast("array<string>")
    )


def _line_parts(lex: Column) -> Column:
    """Component coordinate strings of a LINESTRING (one component) or
    MULTILINESTRING (round 7 — including geof:boundary's own output);
    empty array otherwise. Flattening through _flat_ring_coords puts a
    null separator between components, so no phantom edge spans them."""
    line = F.regexp_extract(lex, _WKT_LINE_BODY, 1)
    mbody = F.regexp_extract(lex, _WKT_MLINE_BODY, 1)
    parts = F.split(
        F.regexp_replace(
            F.regexp_replace(mbody, r"^\s*\(+", ""), r"\)+\s*$", ""
        ),
        r"\)+\s*,\s*\(+",
    )
    return (
        F.when(line != "", F.array(line))
        .when(mbody != "", parts)
        .otherwise(F.array().cast("array<string>"))
    )


def _orient(px, py, qx, qy, rx, ry):
    """Signed area orientation of the triangle (P, Q, R)."""
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def _edges_cross_flat(xa: Column, ya: Column, xb: Column,
                      yb: Column) -> Column:
    """TRUE when any edge of A properly crosses any edge of B over flat
    coordinate arrays (strict orientation-sign test; pure touching
    follows the documented boundary tie-break; ring-separator edges
    null-poison and never count). O(|A|·|B|) per geometry pair in one
    codegen'd expression. Callers pass leaf columns (see _let)."""
    ia = F.sequence(F.lit(0), F.greatest(F.size(xa) - 2, F.lit(0)))
    ib = F.sequence(F.lit(0), F.greatest(F.size(xb) - 2, F.lit(0)))

    def edge_pair(i: Column, j: Column) -> Column:
        px, py = F.get(xa, i), F.get(ya, i)
        qx, qy = F.get(xa, i + 1), F.get(ya, i + 1)
        rx, ry = F.get(xb, j), F.get(yb, j)
        sx, sy = F.get(xb, j + 1), F.get(yb, j + 1)
        o1 = _orient(px, py, qx, qy, rx, ry)
        o2 = _orient(px, py, qx, qy, sx, sy)
        o3 = _orient(rx, ry, sx, sy, px, py)
        o4 = _orient(rx, ry, sx, sy, qx, qy)
        # coalesce: a separator edge gives a NULL predicate, and exists()
        # is three-valued — without this a disjoint pair returns NULL,
        # not false
        return F.coalesce((o1 * o2 < 0) & (o3 * o4 < 0), F.lit(False))

    return F.exists(ia, lambda i: F.exists(ib, lambda j: edge_pair(i, j)))


def _on_any_edge_flat(xs: Column, ys: Column, x: Column,
                      y: Column) -> Column:
    """TRUE when (x, y) lies ON an edge of the flat coordinate arrays
    (collinear + inside the segment's bbox; separator edges never hit)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(xs) - 2, F.lit(0)))

    def hit(i: Column) -> Column:
        px, py = F.get(xs, i), F.get(ys, i)
        qx, qy = F.get(xs, i + 1), F.get(ys, i + 1)
        return F.coalesce(
            (_orient(px, py, qx, qy, x, y) == 0)
            & (x >= F.least(px, qx)) & (x <= F.greatest(px, qx))
            & (y >= F.least(py, qy)) & (y <= F.greatest(py, qy)),
            F.lit(False),
        )

    return F.exists(idx, hit)


def _strictly_inside_flat(xs: Column, ys: Column, x: Column,
                          y: Column) -> Column:
    return (
        (_crossings_flat(xs, ys, x, y) % 2 == 1)
        & ~_on_any_edge_flat(xs, ys, x, y)
    )


def _any_vertex(xs: Column, ys: Column, pred) -> Column:
    """∃ vertex of the flat arrays satisfying pred (separators skip)."""
    iv = F.sequence(F.lit(0), F.greatest(F.size(xs) - 1, F.lit(0)))
    return F.exists(iv, lambda i: F.coalesce(
        pred(F.get(xs, i), F.get(ys, i)), F.lit(False)
    ))


def _all_vertices(xs: Column, ys: Column, pred) -> Column:
    """∀ vertices of the flat arrays satisfying pred. Separator vertices
    must be skipped by the NULL-ness of the vertex itself — a null vertex
    can still drive pred to a non-null FALSE (an empty crossing count is
    0, and 0 % 2 == 1 is false, not null)."""
    iv = F.sequence(F.lit(0), F.greatest(F.size(xs) - 1, F.lit(0)))
    return F.forall(iv, lambda i: (
        F.get(xs, i).isNull()
        | F.coalesce(pred(F.get(xs, i), F.get(ys, i)), F.lit(True))
    ))


def _any_edge_midpoint(xs: Column, ys: Column, pred) -> Column:
    """∃ edge of the flat arrays whose MIDPOINT satisfies pred
    (separator-adjacent edges have a null endpoint → null midpoint →
    coalesced to false)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(xs) - 2, F.lit(0)))
    return F.exists(idx, lambda i: F.coalesce(
        pred(
            (F.get(xs, i) + F.get(xs, i + 1)) / 2,
            (F.get(ys, i) + F.get(ys, i + 1)) / 2,
        ),
        F.lit(False),
    ))


# ---------------------------------------------------------------------------
# Typed geometry representation (round 12). Every kernel below consumes a
# per-argument PARSED view instead of re-deriving rings/coordinates from
# the WKT lex inside each sub-predicate:
#
#   x, y     POINT coordinates (null unless a POINT)
#   pt       is a POINT
#   mp       is a MULTIPOINT
#   pb       has a POLYGON/MULTIPOLYGON body (GC-of-polygons NOT included —
#            mirrors the historical bbox-path dispatch exactly)
#   rings    ring coordinate strings (POLYGON/MULTIPOLYGON/GC-of-polygons)
#   nr       ring count
#   fxs/fys  flat ring coords with null ring separators
#   mxs/mys  every coordinate pair in the lex (bbox/envelope/multipoint)
#   parts/nl/lxs/lys  LINESTRING/MULTILINESTRING analogues
#   ck       canonical ring keys (sfEquals)
#   lex      the raw lex itself
#
# Constant geometries (tagged ``__geo_const__`` by the term boundary —
# harness `_geo_term` and the SPARQL expression compiler) are parsed once
# in PYTHON with exact mirrors of the Column semantics and inlined as
# literal arrays: higher-order functions never constant-fold, so without
# this the constant side of every predicate was re-parsed per row.
# ---------------------------------------------------------------------------

_P_POINT = _re.compile(_WKT_POINT)
_P_PAIR = _re.compile(_WKT_PAIR)
_P_POLYGONAL = _re.compile(_WKT_POLYGONAL_BODY)
_P_MPOINT = _re.compile(_WKT_MPOINT_HEAD)
_P_GC = _re.compile(_WKT_GC_BODY)
_P_GC_MIXED = _re.compile(r"(?i)\b(?:POINT|LINESTRING)\b")
_P_POLY_WORD = _re.compile(r"(?i)(?:MULTI)?POLYGON\s*")
_P_LINE = _re.compile(_WKT_LINE_BODY)
_P_MLINE = _re.compile(_WKT_MLINE_BODY)


def _search1(pat, s: str) -> str:
    m = pat.search(s)
    return m.group(1) if m else ""


def _py_split_groups(body: str) -> list[str]:
    t = _re.sub(r"^\s*\(+", "", body)
    t = _re.sub(r"\)+\s*$", "", t)
    return _re.split(r"\)+\s*,\s*\(+", t)


def _py_rings(s: str) -> list[str]:
    body = _search1(_P_POLYGONAL, s)
    if not body:
        gc = _search1(_P_GC, s)
        if gc and not _P_GC_MIXED.search(gc):
            body = _P_POLY_WORD.sub("", gc)
    if not body:
        return []
    return _py_split_groups(body)


def _py_parts(s: str) -> list[str]:
    line = _search1(_P_LINE, s)
    if line:
        return [line]
    mbody = _search1(_P_MLINE, s)
    if not mbody:
        return []
    return _py_split_groups(mbody)


def _py_pairs(s: str) -> tuple[list[float], list[float]]:
    xs, ys = [], []
    for m in _P_PAIR.finditer(s):
        xs.append(float(m.group(1)))
        ys.append(float(m.group(2)))
    return xs, ys


def _py_flat(groups: list[str]) -> tuple[list, list]:
    xs: list = []
    ys: list = []
    for g in groups:
        gx, gy = _py_pairs(g)
        xs.extend(gx)
        xs.append(None)
        ys.extend(gy)
        ys.append(None)
    return xs, ys


def _parse_wkt_py(s: str) -> dict:
    """Python mirror of the Column-side field builders — used ONLY for
    constant (plan-time-known) WKT strings, so every predicate against a
    literal geometry carries literal coordinate arrays instead of an
    unfoldable per-row parse. Regex patterns are shared with the Column
    path and restricted to constructs that behave identically in
    java.util.regex and Python re."""
    m = _P_POINT.search(s)
    x, y = (float(m.group(1)), float(m.group(2))) if m else (None, None)
    rings = _py_rings(s)
    fxs, fys = _py_flat(rings)
    parts = _py_parts(s)
    lxs, lys = _py_flat(parts)
    mxs, mys = _py_pairs(s)
    return {
        "lex": s, "x": x, "y": y, "pt": m is not None,
        "mp": _P_MPOINT.search(s) is not None,
        "pb": _P_POLYGONAL.search(s) is not None,
        "rings": rings, "nr": len(rings), "fxs": fxs, "fys": fys,
        "mxs": mxs, "mys": mys,
        "parts": parts, "nl": len(parts), "lxs": lxs, "lys": lys,
    }


def _lit_d(v) -> Column:
    return (
        F.lit(None).cast("double") if v is None else F.lit(float(v))
    )


def _lit_darr(vals: list) -> Column:
    if not vals:
        return F.array().cast("array<double>")
    return F.array(*[_lit_d(v) for v in vals])


def _lit_sarr(vals: list) -> Column:
    if not vals:
        return F.array().cast("array<string>")
    return F.array(*[F.lit(v) for v in vals])


def _field_const(f: str, pv: dict) -> Column:
    if f in ("x", "y"):
        return _lit_d(pv[f])
    if f in ("pt", "mp", "pb"):
        return F.lit(bool(pv[f]))
    if f in ("nr", "nl"):
        return F.lit(int(pv[f]))
    if f in ("fxs", "fys", "mxs", "mys", "lxs", "lys"):
        return _lit_darr(pv[f])
    if f in ("rings", "parts"):
        return _lit_sarr(pv[f])
    if f == "ck":
        # canonical keys serialize doubles via the JVM's double→string
        # cast; build them with the SAME Column path (from the literal
        # ring strings) so a Python-formatted float can never diverge
        return _canon_from_rings(_lit_sarr(pv["rings"]))
    if f == "lex":
        return F.lit(pv["lex"])
    raise KeyError(f)


def _field_col(f: str, lex: Column) -> Column:
    if f == "x":
        c = F.regexp_extract(lex, _WKT_POINT, 1)
        return F.when(c != "", c).cast("double")
    if f == "y":
        c = F.regexp_extract(lex, _WKT_POINT, 2)
        return F.when(c != "", c).cast("double")
    if f == "pt":
        return F.regexp_extract(lex, _WKT_POINT, 1) != ""
    if f == "mp":
        return F.regexp_extract(lex, _WKT_MPOINT_HEAD, 0) != ""
    if f == "pb":
        return F.regexp_extract(lex, _WKT_POLYGONAL_BODY, 1) != ""
    if f == "rings":
        return _poly_rings(lex)
    if f == "nr":
        return F.size(_poly_rings(lex))
    if f == "fxs":
        return _flat_ring_coords(_poly_rings(lex))[0]
    if f == "fys":
        return _flat_ring_coords(_poly_rings(lex))[1]
    if f == "mxs":
        return _geom_lons(lex)
    if f == "mys":
        return _geom_lats(lex)
    if f == "parts":
        return _line_parts(lex)
    if f == "nl":
        return F.size(_line_parts(lex))
    if f == "lxs":
        return _flat_ring_coords(_line_parts(lex))[0]
    if f == "lys":
        return _flat_ring_coords(_line_parts(lex))[1]
    if f == "ck":
        return _canon_from_rings(_poly_rings(lex))
    if f == "lex":
        return lex
    raise KeyError(f)


class _G:
    """Bound view of one parsed geometry argument inside a kernel body:
    lookups resolve to lambda-variable fields (row side) or literal
    columns (constant side) — leaves either way, never a re-parse.
    ``pv`` is the constant side's Python parse (``_parse_wkt_py``), so a
    body can decide its shape at plan time; None on the row side."""

    __slots__ = ("_get", "pv")

    def __init__(self, get, pv: dict | None = None):
        self._get = get
        self.pv = pv

    def __getitem__(self, k: str) -> Column:
        return self._get(k)


def _geo2_lex(a_lex: Column, b_lex: Column, fa, fb, body,
              a_const: str | None = None,
              b_const: str | None = None) -> Column:
    """Bind the parsed fields of two geometry lexes once and run
    ``body(ga, gb)`` over the bound views. Constant lexes are parsed at
    plan build (Python) and inlined as literals that bypass the per-row
    struct entirely."""
    lets: dict[str, Column] = {}
    consts: dict[str, Column] = {}
    pvs: dict[str, dict] = {}
    for lex, const, fields, p in (
        (a_lex, a_const, fa, "a_"), (b_lex, b_const, fb, "b_")
    ):
        if const is not None:
            pv = pvs[p] = _parse_wkt_py(const)
            for f in fields:
                c = _field_const(f, pv)
                # ck is constant-DERIVED but not a literal (HOFs don't
                # fold): bind it in the per-row struct so it evaluates
                # once per row, not once per reference
                (lets if f == "ck" else consts)[p + f] = c
        else:
            for f in fields:
                lets[p + f] = _field_col(f, lex)

    def view(p: str, s) -> _G:
        return _G(
            lambda k: consts[p + k] if (p + k) in consts else s[p + k],
            pvs.get(p),
        )

    if not lets:
        return body(view("a_", None), view("b_", None))
    return _let(lets, lambda s: body(view("a_", s), view("b_", s)))


def _geo2(ta: Column, tb: Column, fa, fb, body) -> Column:
    """Term-struct front door of `_geo2_lex`: reads each argument's lex
    and its plan-time constant tag (``__geo_const__``, set at the term
    boundary)."""
    return _geo2_lex(
        ta["lex"], tb["lex"], fa, fb, body,
        getattr(ta, "__geo_const__", None),
        getattr(tb, "__geo_const__", None),
    )


def _geo1(t: Column, fields, body) -> Column:
    """Single-argument variant of `_geo2`."""
    const = getattr(t, "__geo_const__", None)
    lets: dict[str, Column] = {}
    consts: dict[str, Column] = {}
    pv = None
    if const is not None:
        pv = _parse_wkt_py(const)
        for f in fields:
            c = _field_const(f, pv)
            (lets if f == "ck" else consts)[f] = c
    else:
        for f in fields:
            lets[f] = _field_col(f, t["lex"])

    def view(s) -> _G:
        return _G(lambda k: consts[k] if k in consts else s[k], pv)

    if not lets:
        return body(view(None))
    return _let(lets, lambda s: body(view(s)))


def _rebind(g: _G, fields, body) -> Column:
    """Bind more fields of the parsed geometry ``g`` (which must carry
    ``lex``) for one CASE branch: only the rows that reach the branch
    parse them. A constant's fields are literals."""
    if g.pv is not None:
        return body(_G(lambda k: _field_const(k, g.pv), g.pv))
    lets = {f: _field_col(f, g["lex"]) for f in fields}
    return _let(lets, lambda s: body(_G(lambda k: s[k])))


# -- kernel bodies over parsed views -----------------------------------------

# A's member arrays (mxs/mys) are bound only in the MULTIPOINT branch
_PIG_A = ("x", "y", "mp", "lex")
_PIG_B = ("mxs", "mys", "fxs", "fys", "nr", "pb")


def _pig_body(ga: _G, gb: _G, all_members: bool = True) -> Column:
    """Nullable boolean: the POINT (or MULTIPOINT, round 7) ``ga`` lies
    in geometry ``gb`` (see geof_sf_within for path semantics).
    MULTIPOINT semantics follow ``all_members``: every member inside
    (sfWithin/sfContains) or any member inside (sfIntersects).

    B's shape — empty, bbox test (an axis-aligned rectangle or not
    polygonal) or ray cast — is a per-row CASE for a row-side B and a
    plan-time choice for a constant one, which then emits one branch."""
    if gb.pv is None:
        xs, ys = gb["mxs"], gb["mys"]
        nonempty = F.size(xs) > 0
        xmin, xmax = F.array_min(xs), F.array_max(xs)
        ymin, ymax = F.array_min(ys), F.array_max(ys)
        bbox_only = (
            F.forall(xs, lambda v: (v == xmin) | (v == xmax))
            & F.forall(ys, lambda v: (v == ymin) | (v == ymax))
            & (gb["nr"] <= 1)
        ) | ~gb["pb"]
    else:
        xs, ys = gb.pv["mxs"], gb.pv["mys"]
        if not xs:
            return F.lit(None).cast("boolean")
        nonempty = True
        lo = (min(xs), max(xs), min(ys), max(ys))
        bbox_only = (
            all(v in lo[:2] for v in xs) and all(v in lo[2:] for v in ys)
            and gb.pv["nr"] <= 1
        ) or not gb.pv["pb"]
        xmin, xmax, ymin, ymax = (F.lit(v) for v in lo)

    def inside_at(xv: Column, yv: Column) -> Column:
        bbox_inside = (
            (xv >= xmin) & (xv <= xmax) & (yv >= ymin) & (yv <= ymax)
        )
        if bbox_only is True:
            return bbox_inside
        ray_inside = (
            _crossings_flat(gb["fxs"], gb["fys"], xv, yv) % 2 == 1
        )
        if bbox_only is False:
            return ray_inside
        return F.when(bbox_only, bbox_inside).otherwise(ray_inside)

    def multi(m: _G) -> Column:
        idx = F.sequence(
            F.lit(0), F.greatest(F.size(m["mxs"]) - 1, F.lit(0))
        )
        member = lambda i: inside_at(F.get(m["mxs"], i), F.get(m["mys"], i))
        return (
            F.forall(idx, member) if all_members else F.exists(idx, member)
        ) & (F.size(m["mxs"]) > 0)

    out = F.when(
        ga["mp"], _rebind(ga, ("mxs", "mys"), multi)
    ).otherwise(inside_at(ga["x"], ga["y"]))
    return out if nonempty is True else F.when(nonempty, out)


def _point_in_geom(a_lex: Column, b_lex: Column,
                   all_members: bool = True) -> Column:
    """Lex-column compatibility front door for _pig_body (tests and the
    intersects dispatch below use the same body through `_geo2`)."""
    return _geo2_lex(
        a_lex, b_lex, _PIG_A, _PIG_B,
        lambda ga, gb: _pig_body(ga, gb, all_members),
    )


def _bbox_body(ga: _G, gb: _G) -> Column:
    """Nullable boolean: the bounding boxes of two geometries intersect
    (closed compare). Exact for axis-aligned rectangles, the standard
    coarse filter otherwise."""
    axs, ays, bxs, bys = ga["mxs"], ga["mys"], gb["mxs"], gb["mys"]
    nonempty = (F.size(axs) > 0) & (F.size(bxs) > 0)
    overlap = (
        (F.array_min(axs) <= F.array_max(bxs))
        & (F.array_min(bxs) <= F.array_max(axs))
        & (F.array_min(ays) <= F.array_max(bys))
        & (F.array_min(bys) <= F.array_max(ays))
    )
    return F.when(nonempty, overlap)


def _poly_intersects_flat(xa: Column, ya: Column, xb: Column,
                          yb: Column) -> Column:
    """Polygon-polygon intersection over flat leaf arrays: an edge pair
    properly crosses OR any vertex of one lies inside the other (covers
    full containment; the even-odd test over ALL rings makes a polygon
    nested inside the other's hole correctly disjoint). ANY-vertex
    (round 7, was first-vertex): with MULTIPOLYGON members flattened,
    the member that lies inside the other geometry need not own the
    first vertex — O(V²), the same order as the edge sweep."""
    return (
        _edges_cross_flat(xa, ya, xb, yb)
        | _any_vertex(
            xb, yb, lambda x, y: _crossings_flat(xa, ya, x, y) % 2 == 1
        )
        | _any_vertex(
            xa, ya, lambda x, y: _crossings_flat(xb, yb, x, y) % 2 == 1
        )
    )


# intersects/disjoint dispatch binds only the CHEAP type probes eagerly;
# each branch re-binds exactly the fields it needs through a nested lazy
# let over the leaf lex, so a row pays the dispatch probes plus ONE
# branch's parse — CASE WHEN branches evaluate lazily, the field struct
# does not (measured: eager full-field binding made the polygon-polygon
# entries ~40% slower than the branch-local lets it replaced).
_ISX_DISPATCH = ("pt", "mp", "nr", "lex")


def _isx_lex(a_lex: Column, b_lex: Column,
             a_const: str | None = None,
             b_const: str | None = None) -> Column:
    """Nullable boolean shared by sfIntersects and sfDisjoint: exact for
    point-vs-anything (ray cast) and polygon-vs-polygon (edge crossing +
    containment probes); the remaining non-point pairs (LINESTRING vs
    anything) keep the closed bounding-box overlap, documented coarse."""
    def disp(ga: _G, gb: _G) -> Column:
        def pig(g1, g2, c1, c2, members=True):
            return _geo2_lex(
                g1["lex"], g2["lex"], _PIG_A, _PIG_B,
                lambda p, q: _pig_body(p, q, members), c1, c2,
            )

        def ppoly():
            return _geo2_lex(
                ga["lex"], gb["lex"], ("fxs", "fys"), ("fxs", "fys"),
                lambda p, q: _poly_intersects_flat(
                    p["fxs"], p["fys"], q["fxs"], q["fys"]
                ),
                a_const, b_const,
            )

        def bbox():
            return _geo2_lex(
                ga["lex"], gb["lex"], ("mxs", "mys"), ("mxs", "mys"),
                _bbox_body, a_const, b_const,
            )

        both = (ga["nr"] > 0) & (gb["nr"] > 0)
        return (
            F.when(ga["pt"], pig(ga, gb, a_const, b_const))
            .when(gb["pt"], pig(gb, ga, b_const, a_const))
            .when(ga["mp"], pig(ga, gb, a_const, b_const, members=False))
            .when(gb["mp"], pig(gb, ga, b_const, a_const, members=False))
            .when(both, ppoly())
            .otherwise(bbox())
        )

    return _geo2_lex(
        a_lex, b_lex, _ISX_DISPATCH, _ISX_DISPATCH, disp, a_const, b_const
    )


def _intersects_col(a_lex: Column, b_lex: Column) -> Column:
    """Lex-column compatibility front door for _isx_lex."""
    return _isx_lex(a_lex, b_lex)


def _b_sf_within(args: list[Column]) -> Column:
    return _geo2(args[0], args[1], _PIG_A, _PIG_B, _pig_body)


def _b_sf_contains(args: list[Column]) -> Column:
    return _geo2(args[1], args[0], _PIG_A, _PIG_B, _pig_body)


def _b_sf_intersects(args: list[Column]) -> Column:
    return _isx_lex(
        args[0]["lex"], args[1]["lex"],
        getattr(args[0], "__geo_const__", None),
        getattr(args[1], "__geo_const__", None),
    )


def _b_sf_disjoint(args: list[Column]) -> Column:
    return ~_b_sf_intersects(args)


def geof_sf_within(args: list[Column]) -> Column:
    """geof:sfWithin(geomA, geomB) → xsd:boolean — GeoSPARQL simple-features
    containment: geomA a POINT, geomB a POLYGON (general rings INCLUDING
    holes via ray-casting, r5 task 5) or any other geometry (tested
    against its bounding box).

    Three JVM kernel paths (the DE-9IM escape of linework and
    mixed-collection operands is _sf_predicate's, decided at plan time):
    - geomB a single-ring axis-aligned rectangle POLYGON (every vertex
      lon ∈ {min, max} and lat ∈ {min, max}): CLOSED bbox compare —
      exact, boundary inclusive, the reference's own spatial idiom
      (facilities.ttl:211-218) and bit-compatible with the r4 behavior.
    - geomB any other POLYGON: even-odd ray casting over ALL rings —
      each ring's edges are walked independently (no phantom edge
      between rings) and the crossing counts sum, so an odd total means
      inside the shell and outside every hole (XOR semantics; a point in
      a hole crosses shell once and hole once → even → outside). Points
      exactly ON a non-axis-aligned edge follow the even-odd tie-break.
    - non-POLYGON geomB: bounding box of all coordinate pairs (unchanged).
    Non-POINT geomA or empty geomB → null (SPARQL error → row drops)."""
    return make_bool(_b_sf_within(args))


def geof_sf_contains(args: list[Column]) -> Column:
    """geof:sfContains(geomA, geomB) ≡ sfWithin(geomB, geomA) for the
    POINT-in-polygon shapes this engine evaluates exactly."""
    return make_bool(_b_sf_contains(args))


def geof_sf_intersects(args: list[Column]) -> Column:
    """geof:sfIntersects(geomA, geomB): exact for points and for
    polygon-polygon (see _isx_body)."""
    return make_bool(_b_sf_intersects(args))


def geof_sf_disjoint(args: list[Column]) -> Column:
    """geof:sfDisjoint(geomA, geomB) = NOT sfIntersects — same exactness
    envelope as sfIntersects."""
    return make_bool(_b_sf_disjoint(args))


_UOM = "http://www.opengis.net/def/uom/OGC/1.0/"
_EARTH_RADIUS_M = _EARTH_RADIUS_KM * 1000.0


def _pt_xy(lex: Column) -> tuple[Column, Column]:
    lon = F.regexp_extract(lex, _WKT_POINT, 1)
    lat = F.regexp_extract(lex, _WKT_POINT, 2)
    return (F.when(lon != "", lon).cast("double"),
            F.when(lat != "", lat).cast("double"))


def _haversine_m(x1, y1, x2, y2) -> Column:
    phi1, phi2 = F.radians(y1), F.radians(y2)
    dphi = F.radians(y2 - y1)
    dlmb = F.radians(x2 - x1)
    a = (F.sin(dphi / 2) * F.sin(dphi / 2)
         + F.cos(phi1) * F.cos(phi2) * F.sin(dlmb / 2) * F.sin(dlmb / 2))
    return F.lit(2.0 * _EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def _pt_seg_deg(xs: Column, ys: Column, i, x: Column, y: Column,
                coslat: Column) -> Column:
    """Projected-degree distance from (x, y) to edge (i, i+1) of the flat
    coordinate arrays, in a local equirectangular projection centered on
    the point (lon scaled by cos(lat) — the standard small-extent
    approximation). Null when the edge touches a ring separator."""
    ax = (F.get(xs, i) - x) * coslat
    ay = F.get(ys, i) - y
    bx = (F.get(xs, i + 1) - x) * coslat
    by = F.get(ys, i + 1) - y
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t = F.when(len2 > 0, -(ax * dx + ay * dy) / len2).otherwise(F.lit(0.0))
    t = F.greatest(F.lit(0.0), F.least(F.lit(1.0), t))
    cx, cy = ax + t * dx, ay + t * dy
    return F.sqrt(cx * cx + cy * cy)


def _min_edge_deg_flat(xs: Column, ys: Column, x: Column,
                       y: Column) -> Column:
    """Projected-degree distance from a point to the nearest edge of the
    flat arrays (array_min skips the null separator edges). Callers pass
    leaf columns (see _let)."""
    coslat = F.cos(F.radians(y))
    idx = F.sequence(F.lit(0), F.greatest(F.size(xs) - 2, F.lit(0)))
    return F.array_min(F.transform(
        idx, lambda i: _pt_seg_deg(xs, ys, i, x, y, coslat)
    ))


def _min_vert_edge_deg_flat(xf: Column, yf: Column, xt: Column,
                            yt: Column) -> Column:
    """Minimum projected-degree distance from any vertex of the first
    flat arrays to any edge of the second (separator nulls skip)."""
    iv = F.sequence(F.lit(0), F.greatest(F.size(xf) - 1, F.lit(0)))
    ie = F.sequence(F.lit(0), F.greatest(F.size(xt) - 2, F.lit(0)))
    return F.array_min(F.transform(
        iv, lambda i: F.array_min(F.transform(
            ie, lambda j: _pt_seg_deg(
                xt, yt, j, F.get(xf, i), F.get(yf, i),
                F.cos(F.radians(F.get(yf, i))),
            )
        ))
    ))


_DIST_F = ("x", "y", "fxs", "fys", "nr")


def geof_distance(args: list[Column]) -> Column:
    """geof:distance(geomA, geomB [, unit]) → xsd:double (round 6).

    point-point: exact great-circle Haversine. point-polygon (either
    order): 0 when the point is inside (even-odd over all rings), else
    the distance to the nearest ring edge via a local equirectangular
    projection (small-extent approximation, documented). polygon-polygon:
    0 when they intersect, else the minimum over both vertex-to-other's-
    edges directions. Unit IRIs: OGC metre (default), kilometre, degree
    (central angle), radian. Unknown geometry/unit → null → SPARQL
    error semantics."""
    import math as _math

    deg_scale = F.lit(_math.pi / 180.0 * _EARTH_RADIUS_M)

    def body(ga: _G, gb: _G) -> Column:
        pax, pay, pbx, pby = ga["x"], ga["y"], gb["x"], gb["y"]
        xa, ya, xb, yb = ga["fxs"], ga["fys"], gb["fxs"], gb["fys"]
        a_pt, b_pt = pax.isNotNull(), pbx.isNotNull()
        a_poly, b_poly = ga["nr"] > 0, gb["nr"] > 0

        def pt_poly(x, y, xs, ys) -> Column:
            inside = _crossings_flat(xs, ys, x, y) % 2 == 1
            return F.when(inside, F.lit(0.0)).otherwise(
                _min_edge_deg_flat(xs, ys, x, y) * deg_scale
            )

        poly_poly = F.when(
            _poly_intersects_flat(xa, ya, xb, yb), F.lit(0.0)
        ).otherwise(
            F.least(
                _min_vert_edge_deg_flat(xa, ya, xb, yb),
                _min_vert_edge_deg_flat(xb, yb, xa, ya),
            ) * deg_scale
        )
        return (
            F.when(a_pt & b_pt, _haversine_m(pax, pay, pbx, pby))
            .when(a_pt & b_poly, pt_poly(pax, pay, xb, yb))
            .when(b_pt & a_poly, pt_poly(pbx, pby, xa, ya))
            .when(a_poly & b_poly, poly_poly)
        )

    meters = _geo2(args[0], args[1], _DIST_F, _DIST_F, body)
    if len(args) >= 3:
        unit = args[2]["lex"]

        # bind the kernel once: the 4-branch unit CASE would otherwise
        # embed four copies of the whole distance kernel in the plan
        def convert(s) -> Column:
            m = s["m"]
            return (
                F.when(unit == _UOM + "metre", m)
                .when(unit == _UOM + "kilometre", m / 1000.0)
                .when(unit == _UOM + "degree",
                      m / F.lit(_math.pi / 180.0 * _EARTH_RADIUS_M))
                .when(unit == _UOM + "radian",
                      m / F.lit(_EARTH_RADIUS_M))
            )

        meters = _let({"m": meters}, convert)
    return make_numeric(meters.cast("decimal(38,10)"), XSD + "double")


# ---------------------------------------------------------------------------
# Remaining simple-features predicates (round 6): sfEquals / sfTouches /
# sfOverlaps / sfCrosses, plus the geometry constructors envelope /
# boundary / buffer / getSRID. Same design rules as the rest of the
# kernel: WKT lex in, pure JVM higher-order Columns, heavy intermediates
# bound once through the parsed-geometry views, ring-separator nulls
# coalesced at every three-valued site.
# ---------------------------------------------------------------------------

_GEO_NS = "http://www.opengis.net/ont/geosparql#"
_CRS84 = "http://www.opengis.net/def/crs/OGC/1.3/CRS84"


def _make_wkt(lex: Column) -> Column:
    """WKT string → geo:wktLiteral term (null lex → SPARQL error)."""
    from dublin_smart_city_graphdb_spark.sparql.termcol import (
        _struct,
        null_struct,
    )

    made = _struct(F.lit(2), lex, F.lit(_GEO_NS + "wktLiteral"))
    return F.when(lex.isNotNull(), made).otherwise(F.expr(null_struct()))


def _interiors_meet_flat(xa: Column, ya: Column, xb: Column,
                         yb: Column) -> Column:
    """Polygon interiors share a point over flat leaf arrays: a proper
    edge crossing, a vertex of one STRICTLY inside the other, or an edge
    MIDPOINT of one strictly inside the other. The midpoint probe
    (round 9 — found by the interval-algebra property test: a box nested
    in another while spanning its full y-extent has EVERY vertex on the
    other's boundary, no crossing, yet its interior is inside) covers
    the all-vertices-on-boundary containment class; what remains outside
    the envelope is a boundary that lies ENTIRELY on the other's
    boundary — the equals guard at the call sites."""
    return (
        _edges_cross_flat(xa, ya, xb, yb)
        | _any_vertex(xb, yb, lambda x, y: _strictly_inside_flat(xa, ya, x, y))
        | _any_vertex(xa, ya, lambda x, y: _strictly_inside_flat(xb, yb, x, y))
        | _any_edge_midpoint(
            xb, yb, lambda x, y: _strictly_inside_flat(xa, ya, x, y)
        )
        | _any_edge_midpoint(
            xa, ya, lambda x, y: _strictly_inside_flat(xb, yb, x, y)
        )
    )


def _contains_flat(xa: Column, ya: Column, xb: Column,
                   yb: Column) -> Column:
    """A covers B over flat leaf arrays: every B vertex inside-or-on A,
    no A vertex strictly inside B (catches an A hole nested in B), and
    no proper edge crossing."""
    in_or_on = _all_vertices(xb, yb, lambda x, y: (
        (_crossings_flat(xa, ya, x, y) % 2 == 1)
        | _on_any_edge_flat(xa, ya, x, y)
    ))
    return (
        in_or_on
        & ~_any_vertex(xa, ya, lambda x, y: _strictly_inside_flat(xb, yb, x, y))
        & ~_edges_cross_flat(xa, ya, xb, yb)
    )


def _canon_from_rings(rings: Column) -> Column:
    """Ring string array → sorted array of canonical ring keys: each
    ring's vertex cycle rotated to start at its lexicographically-least
    vertex and oriented toward the smaller neighbour, so the SAME ring
    written with any rotation/direction serializes identically."""
    def canon(r: Column) -> Column:
        pts = F.transform(
            F.split(r, r"\s*,\s*"),
            lambda p: F.struct(
                F.element_at(F.split(F.trim(p), r"\s+"), 1)
                .cast("double").alias("x"),
                F.element_at(F.split(F.trim(p), r"\s+"), 2)
                .cast("double").alias("y"),
            ),
        )
        return _let({"pts": pts}, _canon_key)

    return F.array_sort(F.transform(rings, canon))


def _canon_rings(lex: Column) -> Column:
    """POLYGON lex → canonical ring keys (see _canon_from_rings)."""
    return _canon_from_rings(_poly_rings(lex))


def _canon_key(s) -> Column:
    pts = s["pts"]
    n = F.size(pts)
    closed = (n > 1) & (F.get(pts, 0) == F.get(pts, n - 1))
    opened = F.when(closed, F.slice(pts, F.lit(1), n - 1)).otherwise(pts)

    def key(op) -> Column:
        o = op["o"]
        m = F.array_min(o)
        idx = F.sequence(F.lit(0), F.greatest(F.size(o) - 1, F.lit(0)))
        mi = F.get(F.filter(idx, lambda i: F.get(o, i) == m), 0)
        rot = F.concat(
            F.slice(o, mi + 1, F.size(o) - mi),
            F.slice(o, F.lit(1), mi),
        )
        fwd = (F.size(rot) <= 2) | (
            F.get(rot, 1) <= F.get(rot, F.size(rot) - 1)
        )
        ordered = F.when(fwd, rot).otherwise(F.concat(
            F.array(F.get(rot, 0)),
            F.reverse(F.slice(rot, F.lit(2), F.size(rot) - 1)),
        ))
        return F.array_join(F.transform(
            ordered,
            lambda pt: F.concat_ws(
                " ", pt["x"].cast("string"), pt["y"].cast("string")
            ),
        ), ",")

    return _let({"o": opened}, key)


def _ck_eq(ga: _G, gb: _G) -> Column:
    """Canonical ring-set equality, bound LAZILY from the rings fields:
    canon keys are the most expensive per-row derivation (per-ring split +
    min-rotation + sort) and are only needed when a containment/contact
    branch actually fires — computing them eagerly in the field struct
    made sfTouches/sfOverlaps measurably slower than the pre-r12 shape."""
    return _let(
        {"ka": _canon_from_rings(ga["rings"]),
         "kb": _canon_from_rings(gb["rings"])},
        lambda s: s["ka"] == s["kb"],
    )


_EQ_F = ("pt", "x", "y", "nr", "rings", "lex")


def _b_sf_equals(args: list[Column]) -> Column:
    def body(ga: _G, gb: _G) -> Column:
        return (
            F.when(ga["pt"] & gb["pt"],
                   (ga["x"] == gb["x"]) & (ga["y"] == gb["y"]))
            .when((ga["nr"] > 0) & (gb["nr"] > 0), _ck_eq(ga, gb))
            .when(ga["pt"] | gb["pt"] | (ga["nr"] > 0) | (gb["nr"] > 0),
                  F.lit(False))
            .otherwise(F.trim(ga["lex"]) == F.trim(gb["lex"]))
        )

    return _geo2(args[0], args[1], _EQ_F, _EQ_F, body)


def geof_sf_equals(args: list[Column]) -> Column:
    """geof:sfEquals: point-point by coordinates; polygon-polygon by
    canonical ring-set comparison (rotation/direction insensitive, holes
    included); mixed point/polygon false; other pairs by exact lex."""
    return make_bool(_b_sf_equals(args))


_TCH_F = ("pt", "x", "y", "nr", "fxs", "fys", "rings")


def _b_sf_touches(args: list[Column]) -> Column:
    def body(ga: _G, gb: _G) -> Column:
        a_poly, b_poly = ga["nr"] > 0, gb["nr"] > 0
        xa, ya, xb, yb = ga["fxs"], ga["fys"], gb["fxs"], gb["fys"]
        contact = (
            _any_vertex(xb, yb, lambda x, y: _on_any_edge_flat(xa, ya, x, y))
            | _any_vertex(xa, ya, lambda x, y: _on_any_edge_flat(xb, yb, x, y))
        )
        poly_poly = contact & ~_interiors_meet_flat(xa, ya, xb, yb)
        return (
            F.when(ga["pt"] & gb["pt"], F.lit(False))
            .when(ga["pt"] & b_poly,
                  _on_any_edge_flat(xb, yb, ga["x"], ga["y"]))
            .when(gb["pt"] & a_poly,
                  _on_any_edge_flat(xa, ya, gb["x"], gb["y"]))
            .when(a_poly & b_poly,
                  poly_poly & ~_ck_eq(ga, gb))
        )

    return _geo2(args[0], args[1], _TCH_F, _TCH_F, body)


def geof_sf_touches(args: list[Column]) -> Column:
    """geof:sfTouches: boundaries meet, interiors don't. Exact for
    point-polygon (point ON a ring edge) and polygon-polygon via
    vertex-on-edge contact with no proper crossing, no strict
    containment of any vertex, and not equal (see _interiors_meet_flat
    for the documented envelope). Point-point is always false (points
    have no boundary)."""
    return make_bool(_b_sf_touches(args))


_OVL_F = ("nr", "fxs", "fys", "rings")


def _b_sf_overlaps(args: list[Column]) -> Column:
    def body(ga: _G, gb: _G) -> Column:
        xa, ya, xb, yb = ga["fxs"], ga["fys"], gb["fxs"], gb["fys"]
        inner = (
            _interiors_meet_flat(xa, ya, xb, yb)
            & ~_contains_flat(xa, ya, xb, yb)
            & ~_contains_flat(xb, yb, xa, ya)
        )
        return F.when(
            (ga["nr"] > 0) & (gb["nr"] > 0),
            inner & ~_ck_eq(ga, gb),
        ).otherwise(F.lit(False))

    return _geo2(args[0], args[1], _OVL_F, _OVL_F, body)


def geof_sf_overlaps(args: list[Column]) -> Column:
    """geof:sfOverlaps (same-dimension): polygon interiors share a point,
    neither covers the other, and they are not equal. Point pairs are
    never overlaps; mixed dimensions are false per DE-9IM."""
    return make_bool(_b_sf_overlaps(args))


_CRS_F = ("nl", "lxs", "lys", "nr", "fxs", "fys")


def _b_sf_crosses(args: list[Column]) -> Column:
    def body(ga: _G, gb: _G) -> Column:
        a_line, b_line = ga["nl"] > 0, gb["nl"] > 0
        a_poly, b_poly = ga["nr"] > 0, gb["nr"] > 0

        def line_poly(g: _G, h: _G) -> Column:
            lx, ly, xs, ys = g["lxs"], g["lys"], h["fxs"], h["fys"]
            inside = _any_vertex(
                lx, ly, lambda x, y: _strictly_inside_flat(xs, ys, x, y)
            )
            # x.isNotNull(): the component-separator vertex must not
            # count as "outside" (a null vertex crosses 0 edges → even)
            outside = _any_vertex(lx, ly, lambda x, y: (
                x.isNotNull()
                & (_crossings_flat(xs, ys, x, y) % 2 == 0)
                & ~_on_any_edge_flat(xs, ys, x, y)
            ))
            return (
                _edges_cross_flat(lx, ly, xs, ys) | (inside & outside)
            )

        return (
            F.when(a_line & b_poly, line_poly(ga, gb))
            .when(b_line & a_poly, line_poly(gb, ga))
            .when(a_line & b_line, _edges_cross_flat(
                ga["lxs"], ga["lys"], gb["lxs"], gb["lys"]
            ))
            .otherwise(F.lit(False))
        )

    return _geo2(args[0], args[1], _CRS_F, _CRS_F, body)


def geof_sf_crosses(args: list[Column]) -> Column:
    """geof:sfCrosses: LINESTRING/MULTILINESTRING vs POLYGON/MULTIPOLYGON
    (either order) — the line properly crosses a ring edge, or has a
    vertex strictly inside AND a vertex strictly outside. Line-line: any
    proper edge crossing. Exactness envelope: a passage whose interior
    dip has no witnessing vertex and no proper crossing is undetected
    (documented). Point and polygon-polygon pairs are false per DE-9IM
    dimension rules."""
    return make_bool(_b_sf_crosses(args))


def geof_envelope(args: list[Column]) -> Column:
    """geof:envelope(geom) → the axis-aligned bounding box as a
    geo:wktLiteral POLYGON (degenerate boxes stay valid WKT)."""
    def body(g: _G) -> Column:
        xs, ys = g["mxs"], g["mys"]
        x1 = F.array_min(xs).cast("string")
        x2 = F.array_max(xs).cast("string")
        y1 = F.array_min(ys).cast("string")
        y2 = F.array_max(ys).cast("string")
        sp, cm = F.lit(" "), F.lit(", ")
        return F.when(F.size(xs) > 0, F.concat(
            F.lit("POLYGON(("),
            x1, sp, y1, cm, x2, sp, y1, cm,
            x2, sp, y2, cm, x1, sp, y2, cm, x1, sp, y1,
            F.lit("))"),
        ))

    return _make_wkt(_geo1(args[0], ("mxs", "mys"), body))


def geof_boundary(args: list[Column]) -> Column:
    """geof:boundary(geom): POLYGON → its rings as a MULTILINESTRING;
    POINT → the empty geometry (points have no boundary)."""
    def body(g: _G) -> Column:
        rings = g["rings"]
        poly_boundary = F.concat(
            F.lit("MULTILINESTRING("),
            F.array_join(
                F.transform(
                    rings, lambda r: F.concat(F.lit("("), r, F.lit(")"))
                ),
                ", ",
            ),
            F.lit(")"),
        )
        return (
            F.when(F.size(rings) > 0, poly_boundary)
            .when(g["pt"], F.lit("GEOMETRYCOLLECTION EMPTY"))
        )

    return _make_wkt(_geo1(args[0], ("rings", "pt"), body))


_BUFFER_SEGS = 32


def geof_buffer(args: list[Column]) -> Column:
    """geof:buffer(geom, radius [, unitIRI]) → geo:wktLiteral. POINT
    keeps the JVM 32-gon fast path (radius converted to local degrees
    with the same equirectangular scaling as geof:distance, lon by
    cos(lat)); every other geometry routes through the Arrow-batched
    capsule-union kernel (geo/boolops.buffer_wkt — round 8b closes the
    former point-only stub), which pre-scales x by cos(mean latitude)
    for the same metric roundness."""
    import math as _math

    x, y = _pt_xy(args[0]["lex"])
    radius = args[1]["num"].cast("double")
    meters = radius
    if len(args) >= 3:
        unit = args[2]["lex"]
        meters = (
            F.when(unit == _UOM + "metre", radius)
            .when(unit == _UOM + "kilometre", radius * 1000.0)
            .when(unit == _UOM + "degree",
                  radius * F.lit(_math.pi / 180.0 * _EARTH_RADIUS_M))
            .when(unit == _UOM + "radian", radius * F.lit(_EARTH_RADIUS_M))
        )
    deg_lat = meters / F.lit(_math.pi / 180.0 * _EARTH_RADIUS_M)

    def k(s) -> Column:
        cx, cy, dlat, dlon = s["x"], s["y"], s["dlat"], s["dlon"]
        idx = F.sequence(F.lit(0), F.lit(_BUFFER_SEGS))
        pts = F.transform(idx, lambda i: F.concat_ws(
            " ",
            (cx + dlon * F.cos(
                (i % _BUFFER_SEGS) * (2.0 * _math.pi / _BUFFER_SEGS)
            )).cast("string"),
            (cy + dlat * F.sin(
                (i % _BUFFER_SEGS) * (2.0 * _math.pi / _BUFFER_SEGS)
            )).cast("string"),
        ))
        return F.concat(
            F.lit("POLYGON(("), F.array_join(pts, ", "), F.lit("))")
        )

    # non-point general path (r8b): Arrow-batched capsule-union kernel
    if "buffer" not in _GEO_SETOP_UDFS:
        def bfn(lex: pd.Series, degs: pd.Series) -> pd.Series:
            from dublin_smart_city_graphdb_spark.geo.boolops import (
                buffer_wkt,
            )

            return pd.Series(
                [
                    buffer_wkt(w, d, geographic=True)
                    if w is not None and d is not None else None
                    for w, d in zip(lex, degs)
                ],
                dtype="object",
            )

        _GEO_SETOP_UDFS["buffer"] = F.pandas_udf(bfn, "string")
    # the capsule kernel only matters for non-point rows: gate its inputs
    # so the extracted ArrowEvalPython stage ships NULLs (and the Python
    # side returns immediately) for every row the 32-gon fast path serves
    is_pt = x.isNotNull() & meters.isNotNull()
    general = _GEO_SETOP_UDFS["buffer"](
        F.when(~F.coalesce(is_pt, F.lit(False)), args[0]["lex"]),
        F.when(~F.coalesce(is_pt, F.lit(False)), deg_lat.cast("double")),
    )
    wkt = F.when(is_pt, _let(
        {"x": x, "y": y, "dlat": deg_lat,
         "dlon": deg_lat / F.cos(F.radians(y))}, k,
    )).otherwise(general)
    return _make_wkt(wkt)


def geof_get_srid(args: list[Column]) -> Column:
    """geof:getSRID(geom) → xsd:anyURI of the CRS: an embedded
    ``<crs-iri>`` WKT prefix when present, else the CRS84 default."""
    from dublin_smart_city_graphdb_spark.sparql.termcol import _struct

    lex = args[0]["lex"]
    embedded = F.regexp_extract(lex, r"^\s*<([^>]+)>", 1)
    crs = F.when(embedded != "", embedded).otherwise(F.lit(_CRS84))
    return _struct(F.lit(2), crs, F.lit(XSD + "anyURI"))


# ---------------------------------------------------------------------------
# Egenhofer + RCC8 relation families (GeoSPARQL topology vocabulary
# requirements 5/6; reference deploys GraphDB 10.7.2 whose GeoSPARQL
# plugin exposes all three families). For area/area pairs every relation
# reduces to combinations of the simple-features kernels this module
# already has: equals/touches/overlaps map 1:1; the four containment
# relations split sf-style containment by BOUNDARY CONTACT (tangential vs
# non-tangential proper part). All map-only — same zero-exchange plan
# contract as the sf predicates.
# ---------------------------------------------------------------------------

def _boundary_contact_flat(xa: Column, ya: Column, xb: Column,
                           yb: Column) -> Column:
    """Some vertex of either polygon lies on the other's boundary — the
    tangential-contact witness (same envelope as sfTouches: contact
    through edge-interior-only overlap without a witnessing vertex is
    undetected, documented)."""
    return (
        _any_vertex(xb, yb, lambda x, y: _on_any_edge_flat(xa, ya, x, y))
        | _any_vertex(xa, ya, lambda x, y: _on_any_edge_flat(xb, yb, x, y))
    )


_EH_F = ("pt", "x", "y", "nr", "fxs", "fys", "rings")


def _inside_strict_body(ga: _G, gb: _G) -> Column:
    """A in B's interior with NO boundary contact (non-tangential proper
    part). Point-in-polygon strict, or polygon-polygon covers minus
    contact."""
    a_poly, b_poly = ga["nr"] > 0, gb["nr"] > 0
    xa, ya, xb, yb = ga["fxs"], ga["fys"], gb["fxs"], gb["fys"]
    return (
        F.when(ga["pt"] & b_poly,
               _strictly_inside_flat(xb, yb, ga["x"], ga["y"]))
        .when(
            a_poly & b_poly,
            # B covers A, and no vertex of either on the other's boundary
            _contains_flat(xb, yb, xa, ya)
            & ~_boundary_contact_flat(xb, yb, xa, ya),
        )
        .otherwise(F.lit(False))
    )


def _covered_tang_body(ga: _G, gb: _G) -> Column:
    """A covered by B WITH boundary contact and A != B (tangential proper
    part). Area/area only — a point on B's boundary is boundary, not a
    proper part."""
    a_poly, b_poly = ga["nr"] > 0, gb["nr"] > 0
    xa, ya, xb, yb = ga["fxs"], ga["fys"], gb["fxs"], gb["fys"]
    return (
        F.when(
            a_poly & b_poly,
            (_contains_flat(xb, yb, xa, ya)
             & _boundary_contact_flat(xb, yb, xa, ya))
            & ~_ck_eq(ga, gb),
        )
        .otherwise(F.lit(False))
    )


def _b_eh_inside(args: list[Column]) -> Column:
    return _geo2(args[0], args[1], _EH_F, _EH_F, _inside_strict_body)


def _b_eh_contains(args: list[Column]) -> Column:
    return _geo2(args[1], args[0], _EH_F, _EH_F, _inside_strict_body)


def _b_eh_covered_by(args: list[Column]) -> Column:
    return _geo2(args[0], args[1], _EH_F, _EH_F, _covered_tang_body)


def _b_eh_covers(args: list[Column]) -> Column:
    return _geo2(args[1], args[0], _EH_F, _EH_F, _covered_tang_body)


def geof_eh_inside(args: list[Column]) -> Column:
    """geof:ehInside ≡ geof:rcc8ntpp: non-tangential proper part."""
    return make_bool(_b_eh_inside(args))


def geof_eh_contains(args: list[Column]) -> Column:
    """geof:ehContains ≡ geof:rcc8ntppi (argument-swapped ehInside)."""
    return make_bool(_b_eh_contains(args))


def geof_eh_covered_by(args: list[Column]) -> Column:
    """geof:ehCoveredBy ≡ geof:rcc8tpp: tangential proper part."""
    return make_bool(_b_eh_covered_by(args))


def geof_eh_covers(args: list[Column]) -> Column:
    """geof:ehCovers ≡ geof:rcc8tppi (argument-swapped ehCoveredBy)."""
    return make_bool(_b_eh_covers(args))


# -- non-topological set functions (GeoSPARQL §8.7-8.8) ----------------------
#
# geof:intersection/union/difference/symDifference/convexHull return
# GEOMETRIES, and geof:relate matches a DE-9IM pattern — set-valued /
# matrix-valued work the flat-ring Column kernels can't express (a
# boolean-combination boundary is a new ring set, not a predicate).
# These run through Arrow-batched pandas UDFs over geo/boolops.py's slab
# clipper: per-row geometry transforms, map-only, no shuffle — linear
# and embarrassingly parallel at cluster scale, the same execution shape
# as GraphDB's per-binding JTS calls. The hot-path PREDICATES above stay
# JVM Column expressions; these functions appear in projections/BINDs,
# where a vectorized Python kernel is the sanctioned fallback (VERDICT
# r7 task 2).

def _boolop_pudf(op: str):
    def fn(a: pd.Series, b: pd.Series) -> pd.Series:
        from dublin_smart_city_graphdb_spark.geo.boolops import boolop_wkt

        return pd.Series(
            [boolop_wkt(x, y, op) for x, y in zip(a, b)], dtype="object"
        )

    return F.pandas_udf(fn, "string")


_GEO_SETOP_UDFS: dict = {}


def _geo_setop(op: str, args: list[Column]) -> Column:
    if op not in _GEO_SETOP_UDFS:
        _GEO_SETOP_UDFS[op] = _boolop_pudf(op)
    return _make_wkt(_GEO_SETOP_UDFS[op](args[0]["lex"], args[1]["lex"]))


def geof_intersection(args: list[Column]) -> Column:
    """geof:intersection(geomA, geomB) → geo:wktLiteral (GeoSPARQL
    §8.7.2). Polygonal/point operands; empty → GEOMETRYCOLLECTION
    EMPTY; linework unsupported (SPARQL error, SURVEY §8)."""
    return _geo_setop("and", args)


def geof_union(args: list[Column]) -> Column:
    """geof:union(geomA, geomB) → geo:wktLiteral (§8.7.4)."""
    return _geo_setop("or", args)


def geof_difference(args: list[Column]) -> Column:
    """geof:difference(geomA, geomB) → geo:wktLiteral (§8.7.3)."""
    return _geo_setop("sub", args)


def geof_sym_difference(args: list[Column]) -> Column:
    """geof:symDifference(geomA, geomB) → geo:wktLiteral (§8.7.5)."""
    return _geo_setop("xor", args)


def geof_convex_hull(args: list[Column]) -> Column:
    """geof:convexHull(geom) → geo:wktLiteral (§8.7.1): monotone-chain
    hull of every coordinate (POINT / LINESTRING / POLYGON degenerate
    forms per dimension, like JTS)."""
    if "hull" not in _GEO_SETOP_UDFS:
        def fn(a: pd.Series) -> pd.Series:
            from dublin_smart_city_graphdb_spark.geo.boolops import (
                convex_hull_wkt,
            )

            return pd.Series(
                [convex_hull_wkt(x) for x in a], dtype="object"
            )

        _GEO_SETOP_UDFS["hull"] = F.pandas_udf(fn, "string")
    return _make_wkt(_GEO_SETOP_UDFS["hull"](args[0]["lex"]))


def geof_relate(args: list[Column]) -> Column:
    """geof:relate(geomA, geomB, de9imPattern) → xsd:boolean (§8.8):
    full T/F/0/1/2/* pattern matching over the DE-9IM matrix computed
    on the kernel's point/polygonal exactness domain."""
    if "relate" not in _GEO_SETOP_UDFS:
        def fn(a: pd.Series, b: pd.Series,
               p: pd.Series) -> pd.Series:
            from dublin_smart_city_graphdb_spark.geo.boolops import (
                relate_wkt,
            )

            return pd.Series(
                [relate_wkt(x, y, z) for x, y, z in zip(a, b, p)],
                dtype="object",
            )

        _GEO_SETOP_UDFS["relate"] = F.pandas_udf(fn, "boolean")
    return make_bool(
        _GEO_SETOP_UDFS["relate"](
            args[0]["lex"], args[1]["lex"], args[2]["lex"]
        )
    )


def _shape(t: Column, pattern: str):
    """``t["lex"].rlike(pattern)`` for one of the three escape shapes
    (``_WKT_EMPTY``, ``_WKT_MIXED_GC``, ``_WKT_LINEY``), decided at plan
    time where it can be: by Python ``re`` for a constant operand
    (``__geo_const__``; ASCII classes, as java.util.regex has), and
    False for a scan-bound variable (``__geo_scan__``: no term text of
    the snapshot matches ``WKT_ESCAPE_SHAPE``). Otherwise the Column."""
    const = getattr(t, "__geo_const__", None)
    if const is not None:
        return _re.search(pattern, const, _re.ASCII) is not None
    if getattr(t, "__geo_scan__", False):
        return False
    return t["lex"].rlike(pattern)


def _any(*parts):
    """OR of plan-time booleans and Columns: a bool when the plan-time
    parts decide it, else the OR of the Column parts."""
    if any(p is True for p in parts):
        return True
    cols = [p for p in parts if p is not False]
    return functools.reduce(operator.or_, cols) if cols else False


def _when_empty(is_empty, on_empty: bool, out: Column) -> Column:
    """``out``, except ``on_empty`` where an operand is EMPTY."""
    if is_empty is False:
        return out
    return F.when(is_empty, F.lit(on_empty)).otherwise(out)


def _empty_aware(raw_fn, on_empty: bool):
    """Wrap a binary raw-boolean geo predicate with OGC empty-geometry
    semantics: an EMPTY operand (``GEOMETRYCOLLECTION EMPTY`` — e.g. our
    own geof:boundary(point) output — or any ``<TYPE> EMPTY``) is
    disjoint from everything, so sfDisjoint answers true and every other
    predicate false, instead of erroring (VERDICT r7 task 3). The
    boolean CASE composes FIRST and one make_bool wraps the result, so
    downstream EBV extraction sees a single kernel instance."""
    def wrapped(args: list[Column]) -> Column:
        is_empty = _any(*(_shape(t, _WKT_EMPTY) for t in args[:2]))
        if is_empty is True:
            return make_bool(F.lit(on_empty))
        return make_bool(_when_empty(is_empty, on_empty, raw_fn(args)))

    return wrapped


def _sf_predicate(raw_fn, name: str, line_escape: str | None = None):
    """Dispatch wrapper for the simple-features predicates: the JVM
    Column kernel serves its exactness envelope (the hot path,
    unchanged — including its documented bbox fallbacks), while shapes
    it CANNOT answer route to the Arrow-batched DE-9IM evaluator
    (geo/boolops.named_predicate — round 8b): mixed-dimension
    GEOMETRYCOLLECTION operands for every predicate, and a linework
    operand on the CONTAINED side of the containment/equality family
    (``line_escape`` = which side: 'a' for within, 'b' for contains,
    'either' for equals), where the JVM kernel previously answered a
    SPARQL error. Empty operands keep the OGC rule (disjoint true,
    everything else false).

    Round 12: Spark extracts Python UDFs out of CASE WHEN into an
    unconditional ArrowEvalPython stage, so the escape evaluator used to
    run the full Python DE-9IM matrix for EVERY row and throw the result
    away on the 99.99% of rows the JVM kernel serves. The UDF inputs are
    now gated to NULL for non-escape rows — the Python side returns
    immediately — and the boolean CASE composes before a single
    make_bool, so EBV extraction can't duplicate the kernel.

    The escape is decided at plan time (``_shape``): a constant operand
    is tested in Python, and a variable operand cannot escape when it is
    bound only by triple patterns over a snapshot whose term texts hold
    no escape shape (the ``wkt_escape_free`` flag computed with the
    predicate stats; a query with BIND, VALUES, SERVICE, a sub-SELECT,
    a select expression or a quoted-triple pattern never qualifies).
    When neither operand can escape, the plan holds only the JVM kernel
    and no Python UDF. Compilers that get no flag keep the per-row
    escape: ``Transaction.query``, the SPARQL gate, the registry,
    SPARQL UPDATE, SHACL and inference."""
    def wrapped(args: list[Column]) -> Column:
        if name not in _GEO_SETOP_UDFS:
            def pfn(a: pd.Series, b: pd.Series) -> pd.Series:
                from dublin_smart_city_graphdb_spark.geo.boolops import (
                    named_predicate,
                )

                return pd.Series(
                    [
                        None if x is None or y is None
                        else named_predicate(x, y, name)
                        for x, y in zip(a, b)
                    ],
                    dtype="object",
                )

            _GEO_SETOP_UDFS[name] = F.pandas_udf(pfn, "boolean")
        ta, tb = args[0], args[1]
        is_empty = _any(_shape(ta, _WKT_EMPTY), _shape(tb, _WKT_EMPTY))
        on_empty = name == "disjoint"
        if is_empty is True:
            return make_bool(F.lit(on_empty))
        escape = _any(
            _shape(ta, _WKT_MIXED_GC), _shape(tb, _WKT_MIXED_GC),
            line_escape in ("a", "either") and _shape(ta, _WKT_LINEY),
            line_escape in ("b", "either") and _shape(tb, _WKT_LINEY),
        )
        if escape is False:
            return make_bool(_when_empty(is_empty, on_empty, raw_fn(args)))
        # UDF inputs are NULL on rows that take another branch
        gate = []
        if escape is not True:
            gate.append(F.coalesce(escape, F.lit(False)))
        if is_empty is not False:
            gate.append(~F.coalesce(is_empty, F.lit(False)))
        a, b = ta["lex"], tb["lex"]
        if gate:
            esc = functools.reduce(operator.and_, gate)
            a, b = F.when(esc, a), F.when(esc, b)
        gated = _GEO_SETOP_UDFS[name](a, b)
        out = gated if escape is True else (
            F.when(escape, gated).otherwise(raw_fn(args))
        )
        return make_bool(_when_empty(is_empty, on_empty, out))

    return wrapped


def default_extensions() -> dict:
    ext = {
        FN + "haversineKm": haversine_km,
        FN + "wktLon": wkt_lon,
        FN + "wktLat": wkt_lat,
        FN + "wktWithinBBox": wkt_within_bbox,
        GEOF + "sfWithin": _sf_predicate(_b_sf_within, "within", "a"),
        GEOF + "sfContains": _sf_predicate(_b_sf_contains, "contains", "b"),
        GEOF + "sfIntersects": _sf_predicate(_b_sf_intersects, "intersects"),
        GEOF + "sfDisjoint": _sf_predicate(_b_sf_disjoint, "disjoint"),
        GEOF + "sfEquals": _sf_predicate(_b_sf_equals, "equals", "either"),
        GEOF + "sfTouches": _sf_predicate(_b_sf_touches, "touches"),
        GEOF + "sfOverlaps": _sf_predicate(_b_sf_overlaps, "overlaps"),
        GEOF + "sfCrosses": _sf_predicate(_b_sf_crosses, "crosses"),
        GEOF + "distance": geof_distance,
        GEOF + "envelope": geof_envelope,
        GEOF + "boundary": geof_boundary,
        GEOF + "buffer": geof_buffer,
        GEOF + "getSRID": geof_get_srid,
        # Egenhofer family: equals/disjoint/meet/overlap are the same
        # DE-9IM classes as their simple-features counterparts for areas
        GEOF + "ehEquals": _empty_aware(_b_sf_equals, False),
        GEOF + "ehDisjoint": _empty_aware(_b_sf_disjoint, True),
        GEOF + "ehMeet": _empty_aware(_b_sf_touches, False),
        GEOF + "ehOverlap": _empty_aware(_b_sf_overlaps, False),
        GEOF + "ehInside": _empty_aware(_b_eh_inside, False),
        GEOF + "ehContains": _empty_aware(_b_eh_contains, False),
        GEOF + "ehCoveredBy": _empty_aware(_b_eh_covered_by, False),
        GEOF + "ehCovers": _empty_aware(_b_eh_covers, False),
        # RCC8 family (region-region; the four containment relations are
        # area-gated inside the kernels)
        GEOF + "rcc8eq": _empty_aware(_b_sf_equals, False),
        GEOF + "rcc8dc": _empty_aware(_b_sf_disjoint, True),
        GEOF + "rcc8ec": _empty_aware(_b_sf_touches, False),
        GEOF + "rcc8po": _empty_aware(_b_sf_overlaps, False),
        GEOF + "rcc8ntpp": _empty_aware(_b_eh_inside, False),
        GEOF + "rcc8ntppi": _empty_aware(_b_eh_contains, False),
        GEOF + "rcc8tpp": _empty_aware(_b_eh_covered_by, False),
        GEOF + "rcc8tppi": _empty_aware(_b_eh_covers, False),
        # non-topological set functions (§8.7-8.8, Arrow-batched)
        GEOF + "intersection": geof_intersection,
        GEOF + "union": geof_union,
        GEOF + "difference": geof_difference,
        GEOF + "symDifference": geof_sym_difference,
        GEOF + "convexHull": geof_convex_hull,
        GEOF + "relate": geof_relate,
    }
    return ext
