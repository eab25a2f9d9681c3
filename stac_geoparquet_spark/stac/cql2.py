"""CQL2-JSON -> Spark Column translator.

The reference delegates arbitrary CQL2 filtering to pgstac's ``search()``
SQL function (stac_geoparquet/pgstac_reader.py:178-181) — the filter is
opaque to it. Our engine evaluates the same filter language directly
against the normalized STAC DataFrame, so a CQL2 query can run on
GeoParquet/Delta output without a Postgres in the loop. SURVEY.md §4
scopes this as a pure-Python frontend (no Catalyst rules): every CQL2
node maps to a built-in Column expression, so predicates stay inside
whole-stage codegen and — crucially — comparison/spatial/temporal
filters on top-level columns are *sargable*: Catalyst pushes them to
the Parquet scan where row groups are skipped on min/max stats (the
bbox "covering" layout exists precisely to make s_intersects a
stats-prunable conjunction of four double comparisons).

Supported (the CQL2 "basic" + bbox-spatial + temporal subset):
- logical: and / or / not
- comparison: = <> < <= > >=, between, in, like, isNull
- arithmetic: + - * / %
- casei / accenti (accenti is identity — data is ASCII-normalized)
- temporal: t_after / t_before / t_equals / t_during / anyinteracts on
  timestamp properties vs {"timestamp": ...} / {"date": ...} /
  {"interval": [lo, hi]} literals (".." = open end)
- spatial: s_intersects evaluated as a bbox-overlap prefilter against
  the engine's bbox struct column (exact geometry refinement is a
  documented non-goal: the reference's own output delegates spatial
  filtering to readers via bbox covering stats, README.md:10-15; the
  envelope of a GeoJSON literal, GeometryCollection included, is
  computed driver-side, no shapely)

Property references: {"property": "name"}. Timestamps parse with
``F.to_timestamp`` semantics (UTC session).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stac_geoparquet_spark.geom.wkb import geojson_bounds
from stac_geoparquet_spark.stac.constants import BBOX_2D

_CMP = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}

_ARITH = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
}

#: column holding the 2-D bbox struct {xmin, ymin, xmax, ymax}
BBOX_COL = "bbox"


class Cql2Error(ValueError):
    """Unsupported or malformed CQL2 construct."""


def _is_open(v: Any) -> bool:
    return v == ".."


def _temporal_literal(node: Any) -> tuple[Column | None, Column | None]:
    """Return (start, end) Columns for a temporal literal; a plain
    instant yields start == end. Open interval ends are None."""
    if isinstance(node, dict):
        if "timestamp" in node:
            t = F.to_timestamp(F.lit(node["timestamp"]))
            return t, t
        if "date" in node:
            d = F.to_timestamp(F.lit(node["date"]))
            return d, d
        if "interval" in node:
            lo, hi = node["interval"]
            return (
                None if _is_open(lo) else F.to_timestamp(F.lit(lo)),
                None if _is_open(hi) else F.to_timestamp(F.lit(hi)),
            )
    if isinstance(node, str):
        t = F.to_timestamp(F.lit(node))
        return t, t
    raise Cql2Error(f"not a temporal literal: {node!r}")


def _geometry_envelope(node: Any) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of a bbox or GeoJSON geometry literal,
    computed driver-side from the coordinate tree."""
    if isinstance(node, dict) and "bbox" in node:
        b = node["bbox"]
        if len(b) == 6:  # 3-D bbox: drop z
            return b[0], b[1], b[3], b[4]
        if len(b) != 4:
            raise Cql2Error(f"bbox literal must have 4 or 6 values: {b!r}")
        return tuple(b)
    if isinstance(node, dict) and ("coordinates" in node or "geometries" in node):
        env = geojson_bounds(node)
        if env is None:
            raise Cql2Error("empty geometry literal")
        return tuple(env)
    raise Cql2Error(f"not a spatial literal: {node!r}")


def _bbox_intersects(env: tuple[float, float, float, float]) -> Column:
    """Sargable 2-D bbox overlap against the bbox struct column: four
    double comparisons Catalyst pushes to Parquet row-group stats.

    An antimeridian-crossing query bbox (west > east, valid per
    RFC 7946 §5.2) splits into the two hemisphere boxes OR-ed together
    — still sargable.  Item bboxes themselves are assumed
    non-crossing (the reference's bbox-struct layout makes the same
    assumption); polygon literals whose coordinates cross the dateline
    reduce to a min/max envelope and keep that limitation.
    """
    xmin, ymin, xmax, ymax = env
    if xmin > xmax:  # dateline-crossing query box
        return _bbox_intersects((xmin, ymin, 180.0, ymax)) | _bbox_intersects(
            (-180.0, ymin, xmax, ymax)
        )
    bxmin, bymin, bxmax, bymax = (F.col(BBOX_COL)[n] for n in BBOX_2D)
    return (
        (bxmin <= F.lit(xmax))
        & (bxmax >= F.lit(xmin))
        & (bymin <= F.lit(ymax))
        & (bymax >= F.lit(ymin))
    )


def _operand(node: Any) -> Column:
    """Scalar operand: property ref, literal, nested expression."""
    if isinstance(node, dict):
        if "property" in node:
            name = node["property"]
            # A dotted name is a NESTED-field path ("assets.image.
            # href" — the normalized table never has flat columns
            # literally named with dots), so quote per SEGMENT: only
            # segments Spark's identifier grammar cannot resolve
            # unquoted (colons/spaces/hyphens — the hoisted
            # "eo:cloud_cover"-style columns) get backticks, and the
            # dots between segments stay live as path separators.
            def seg(s: str) -> str:
                return (
                    f"`{s}`" if any(c in s for c in (":", " ", "-")) else s
                )

            return F.col(".".join(seg(s) for s in name.split(".")))
        if "timestamp" in node or "date" in node:
            return _temporal_literal(node)[0]
        if "op" in node:
            return cql2_to_column(node)
        raise Cql2Error(f"unsupported operand: {node!r}")
    if isinstance(node, (list, tuple)):
        return F.array(*[_operand(e) for e in node])
    return F.lit(node)


def cql2_to_column(expr: dict) -> Column:
    """Translate a CQL2-JSON expression tree to a boolean (or scalar,
    for arithmetic sub-expressions) Spark Column."""
    if not isinstance(expr, dict) or "op" not in expr:
        raise Cql2Error(f"not a CQL2 expression: {expr!r}")
    op = expr["op"]
    args = expr.get("args", [])

    # arity validation up front so malformed trees raise Cql2Error (the
    # documented contract), never a bare IndexError from args[i]
    _min_arity = {
        "and": 1, "or": 1, "not": 1, "between": 3, "in": 2, "like": 2,
        "isNull": 1, "casei": 1, "accenti": 1, "t_after": 2,
        "t_before": 2, "t_equals": 2, "t_during": 2, "anyinteracts": 2,
        "s_intersects": 2,
    }
    need = _min_arity.get(op, 2 if (op in _CMP or op in _ARITH) else 0)
    if len(args) < need:
        raise Cql2Error(
            f"op {op!r} needs at least {need} args, got {len(args)}"
        )

    if op == "and":
        out = cql2_to_column(args[0])
        for a in args[1:]:
            out = out & cql2_to_column(a)
        return out
    if op == "or":
        out = cql2_to_column(args[0])
        for a in args[1:]:
            out = out | cql2_to_column(a)
        return out
    if op == "not":
        return ~cql2_to_column(args[0])

    if op in _CMP:
        return _CMP[op](_operand(args[0]), _operand(args[1]))
    if op in _ARITH:
        return _ARITH[op](_operand(args[0]), _operand(args[1]))

    if op == "between":
        x = _operand(args[0])
        return x.between(_operand(args[1]), _operand(args[2]))
    if op == "in":
        x = _operand(args[0])
        return x.isin([v for v in args[1]])
    if op == "like":
        pat = args[1]
        # casei-wrapped pattern (valid CQL2): lower both sides; any
        # other non-string pattern node is a Cql2Error, not a raw
        # py4j TypeError from Column.like
        if isinstance(pat, dict) and pat.get("op") == "casei":
            inner = pat.get("args", [None])[0]
            if not isinstance(inner, str):
                raise Cql2Error(f"like pattern must be a string: {pat!r}")
            return F.lower(_operand(args[0])).like(inner.lower())
        if not isinstance(pat, str):
            raise Cql2Error(f"like pattern must be a string: {pat!r}")
        return _operand(args[0]).like(pat)
    if op == "isNull":
        return _operand(args[0]).isNull()
    if op == "casei":
        return F.lower(_operand(args[0]))
    if op == "accenti":
        return _operand(args[0])

    if op in ("t_after", "t_before", "t_equals", "t_during", "anyinteracts"):
        x = _operand(args[0])
        lo, hi = _temporal_literal(args[1])
        if op == "t_after":
            if hi is None:
                raise Cql2Error("t_after needs a closed upper bound")
            return x > hi
        if op == "t_before":
            if lo is None:
                raise Cql2Error("t_before needs a closed lower bound")
            return x < lo
        if op == "t_equals":
            if lo is None or hi is None:
                raise Cql2Error(
                    "t_equals needs an instant (or closed degenerate "
                    "interval) literal — an open interval can never "
                    "equal an instant"
                )
            # an instant equals an interval only when the interval is
            # degenerate (start == end == x); for a real interval this
            # conjunction is correctly never true
            return (x == lo) & (x == hi)
        # t_during / anyinteracts on an instant property: inside
        # interval. A fully open interval ["..", ".."] still requires
        # the instant to EXIST — starting from isNotNull (not
        # lit(True)) keeps null datetimes excluded, consistent with
        # every closed comparison here (which yields NULL -> dropped).
        # DELIBERATE DEVIATION: bounds are inclusive (>=/<=) for BOTH
        # ops, whereas OGC 21-065 T_DURING is strict containment — the
        # STAC-API convention (datetime range filters are closed) wins
        # here, and the oracle suite pins the inclusive semantics.
        out = x.isNotNull()
        if lo is not None:
            out = out & (x >= lo)
        if hi is not None:
            out = out & (x <= hi)
        return out

    if op == "s_intersects":
        # args[0] is the geometry property ref (ignored beyond
        # validation — the engine's sargable spatial index is the bbox
        # struct; see module docstring), args[1] the spatial literal.
        if not (isinstance(args[0], dict) and "property" in args[0]):
            raise Cql2Error("s_intersects: first arg must be a property")
        return _bbox_intersects(_geometry_envelope(args[1]))

    raise Cql2Error(f"unsupported CQL2 op: {op!r}")


def cql2_filter(df: DataFrame, expr: dict) -> DataFrame:
    """Apply a CQL2-JSON filter to a DataFrame."""
    return df.filter(cql2_to_column(expr))
