"""Pure-Python GeoJSON <-> ISO WKB codec.

The reference encodes STAC geometries as ISO-flavor WKB via shapely
(stac_geoparquet/arrow/_batch.py:89-129) and decodes with
shapely.from_wkb (arrow/_batch.py:131-181). shapely is not available in
this environment, so the codec is implemented directly against the OGC
WKB wire format. It is deterministic, round-trip exact (doubles are
bit-preserved), and used row-at-a-time inside Arrow-batched pandas UDFs
— the same granularity at which the reference calls shapely.

Supported: Point, LineString, Polygon, MultiPoint, MultiLineString,
MultiPolygon, GeometryCollection, with optional Z (ISO type codes
1001-1007). Little-endian output, either endianness accepted on input.

Also replicates the reference's empty-MultiPolygon-part filtering
(stac_geoparquet/utils.py:89-101): empty coordinate entries in a
MultiPolygon are dropped before encoding, and computes the GeoJSON
envelope (shapely's ``geom.bounds``) that the pgstac bbox fallback and
CQL2 spatial literals need.
"""

from __future__ import annotations

import json
import struct
from typing import Any

_TYPE_CODES = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
    "GeometryCollection": 7,
}
_CODE_TYPES = {v: k for k, v in _TYPE_CODES.items()}


def _coords_have_z(geom_type: str, coords: Any) -> bool:
    if geom_type == "Point":
        return len(coords) >= 3
    if not coords:
        return False
    return _coords_have_z(
        {
            "LineString": "Point",
            "MultiPoint": "Point",
            "Polygon": "LineString",
            "MultiLineString": "LineString",
            "MultiPolygon": "Polygon",
        }[geom_type],
        coords[0],
    )


def _pack_point(buf: bytearray, pt, ndim: int) -> None:
    if ndim == 3:
        buf += struct.pack("<3d", pt[0], pt[1], pt[2] if len(pt) > 2 else 0.0)
    else:
        buf += struct.pack("<2d", pt[0], pt[1])


def _pack_ring(buf: bytearray, ring, ndim: int) -> None:
    buf += struct.pack("<I", len(ring))
    for pt in ring:
        _pack_point(buf, pt, ndim)


def geojson_to_wkb(geom: dict | str | None) -> bytes | None:
    """Encode one GeoJSON geometry (dict or JSON string) to ISO WKB."""
    if geom is None:
        return None
    if isinstance(geom, str):
        geom = json.loads(geom)
    return _encode(geom)


def _encode(geom: dict) -> bytes:
    gtype = geom["type"]
    buf = bytearray()
    buf += b"\x01"  # little-endian
    if gtype == "GeometryCollection":
        parts = geom.get("geometries") or []
        buf += struct.pack("<I", _TYPE_CODES[gtype])
        buf += struct.pack("<I", len(parts))
        for part in parts:
            buf += _encode(part)
        return bytes(buf)

    coords = geom.get("coordinates")
    if coords is None:
        raise ValueError(f"geometry {gtype} has no coordinates")
    if gtype == "MultiPolygon":
        # reference parity: drop empty polygon parts (utils.py:89-101)
        coords = [p for p in coords if p and any(len(r) for r in p)]
    has_z = _coords_have_z(gtype, coords)
    ndim = 3 if has_z else 2
    code = _TYPE_CODES[gtype] + (1000 if has_z else 0)
    buf += struct.pack("<I", code)

    if gtype == "Point":
        if len(coords) < 2:
            raise ValueError(
                "empty Point geometry (coordinates []) cannot be "
                "WKB-encoded; filter empty geometries before encoding"
            )
        _pack_point(buf, coords, ndim)
    elif gtype in ("LineString", "MultiPoint"):
        if gtype == "LineString":
            _pack_ring(buf, coords, ndim)
        else:
            buf += struct.pack("<I", len(coords))
            for pt in coords:
                buf += b"\x01" + struct.pack("<I", 1 + (1000 if has_z else 0))
                _pack_point(buf, pt, ndim)
    elif gtype == "Polygon":
        buf += struct.pack("<I", len(coords))
        for ring in coords:
            _pack_ring(buf, ring, ndim)
    elif gtype == "MultiLineString":
        buf += struct.pack("<I", len(coords))
        for line in coords:
            buf += b"\x01" + struct.pack("<I", 2 + (1000 if has_z else 0))
            _pack_ring(buf, line, ndim)
    elif gtype == "MultiPolygon":
        buf += struct.pack("<I", len(coords))
        for poly in coords:
            buf += b"\x01" + struct.pack("<I", 3 + (1000 if has_z else 0))
            buf += struct.pack("<I", len(poly))
            for ring in poly:
                _pack_ring(buf, ring, ndim)
    else:
        raise ValueError(f"unsupported geometry type: {gtype}")
    return bytes(buf)


def geojson_bounds(geom: dict | None) -> list[float] | None:
    """[xmin, ymin, xmax, ymax] over every coordinate of a GeoJSON
    geometry, GeometryCollection members included; None for a missing
    or empty geometry."""
    xs: list[float] = []
    ys: list[float] = []

    def walk(c: Any) -> None:
        if isinstance(c, dict):
            walk(c.get("geometries", c.get("coordinates")))
        elif isinstance(c, (list, tuple)) and c:
            if isinstance(c[0], (int, float)):
                xs.append(float(c[0]))
                ys.append(float(c[1]))
            else:
                for e in c:
                    walk(e)

    walk(geom)
    if not xs:
        return None
    return [min(xs), min(ys), max(xs), max(ys)]


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def u32(self, fmt: str) -> int:
        (v,) = struct.unpack_from(fmt + "I", self.data, self.pos)
        self.pos += 4
        return v

    def point(self, fmt: str, ndim: int, keep: int):
        vals = struct.unpack_from(f"{fmt}{ndim}d", self.data, self.pos)
        self.pos += 8 * ndim
        return list(vals[:keep])

    def byte(self) -> int:
        v = self.data[self.pos]
        self.pos += 1
        return v


def wkb_to_geojson(data: bytes | None) -> dict | None:
    """Decode ISO (or EWKB-dimension-flagged) WKB to a GeoJSON dict."""
    if data is None:
        return None
    return _decode(_Reader(bytes(data)))


def _decode(r: _Reader) -> dict:
    fmt = "<" if r.byte() == 1 else ">"
    raw = r.u32(fmt)
    # EWKB flag bits (what PostGIS/pgstac actually emits for
    # SRID-stamped geometries): Z=0x80000000, M=0x40000000,
    # SRID=0x20000000 — strip all three from the type code and consume
    # the 4-byte SRID when flagged (GeoJSON is implicitly CRS84/4326,
    # so the value itself is dropped).
    has_z = bool(raw & 0x80000000)
    has_m = bool(raw & 0x40000000)
    code = raw & 0x1FFFFFFF
    if raw & 0x20000000:
        r.u32(fmt)  # SRID
    # ISO offsets: 1000=Z, 2000=M, 3000=ZM
    if code >= 3000:
        has_z = has_m = True
        code -= 3000
    elif code >= 2000:
        has_m = True
        code -= 2000
    elif code >= 1000:
        has_z = True
        code -= 1000
    gtype = _CODE_TYPES.get(code)
    if gtype is None:
        raise ValueError(f"unknown WKB geometry code: {raw}")
    # read every stored ordinate, keep x,y(,z) — GeoJSON has no M
    ndim = 2 + (1 if has_z else 0) + (1 if has_m else 0)
    keep = 3 if has_z else 2

    if gtype == "GeometryCollection":
        n = r.u32(fmt)
        return {
            "type": gtype,
            "geometries": [_decode(r) for _ in range(n)],
        }
    if gtype == "Point":
        return {"type": gtype, "coordinates": r.point(fmt, ndim, keep)}
    if gtype == "LineString":
        n = r.u32(fmt)
        return {
            "type": gtype,
            "coordinates": [r.point(fmt, ndim, keep) for _ in range(n)],
        }
    if gtype == "Polygon":
        nr = r.u32(fmt)
        return {
            "type": gtype,
            "coordinates": [
                [r.point(fmt, ndim, keep) for _ in range(r.u32(fmt))]
                for _ in range(nr)
            ],
        }
    # Multi* bodies are a sequence of full WKB child geometries
    n = r.u32(fmt)
    children = [_decode(r) for _ in range(n)]
    return {"type": gtype, "coordinates": [c["coordinates"] for c in children]}
