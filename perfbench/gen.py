"""Seeded inputs for the benchmark: STAC items as NDJSON, and searches.

Everything here is a pure function of the seed: the same seed gives
byte-identical NDJSON and the same search list. Items cluster around city
anchors (so a spatially ordered GeoParquet has row groups a city search
can skip), with a share spread uniformly over the globe.

The catalog is held as column arrays (:class:`Catalog`). NDJSON lines are
rendered from them with string templates, the search oracle evaluates
predicates on the same arrays, and correctness checks rebuild only the
sampled geometries they compare.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np

COLLECTIONS = ("sentinel-2-like", "landsat-like", "naip-like", "modis-like")

# (lon, lat) anchors on every inhabited continent
CITIES = (
    (-74.0, 40.7), (-118.2, 34.1), (-87.6, 41.9), (-99.1, 19.4),
    (-79.4, 43.7), (-122.4, 37.8), (-46.6, -23.5), (-58.4, -34.6),
    (-77.0, -12.0), (-74.1, 4.7), (-0.1, 51.5), (2.35, 48.9),
    (13.4, 52.5), (12.5, 41.9), (-3.7, 40.4), (18.1, 59.3),
    (21.0, 52.2), (37.6, 55.8), (31.2, 30.0), (3.4, 6.5),
    (36.8, -1.3), (28.0, -26.2), (18.4, -33.9), (55.3, 25.2),
    (72.9, 19.1), (77.2, 28.6), (88.4, 22.6), (100.5, 13.8),
    (106.8, -6.2), (103.8, 1.35), (116.4, 39.9), (121.5, 31.2),
    (114.2, 22.3), (127.0, 37.6), (139.7, 35.7), (135.5, 34.7),
    (151.2, -33.9), (144.96, -37.8), (174.8, -36.8), (115.9, -31.95),
)

# (xmin, ymin, xmax, ymax) per continent, for the broad searches
CONTINENTS = (
    (-130.0, 15.0, -60.0, 55.0),
    (-85.0, -45.0, -35.0, 10.0),
    (-12.0, 35.0, 40.0, 62.0),
    (-18.0, -35.0, 52.0, 35.0),
    (60.0, -10.0, 145.0, 50.0),
    (110.0, -45.0, 180.0, -10.0),
)

EPOCH0 = int(dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc).timestamp())
SPAN_DAYS = 540  # 2022-01-01 .. 2023-06-24

# Shares of geometry types, and footprint shape. These are assumptions, not
# measurements of a real catalog: imagery catalogs (Sentinel-2, Landsat,
# NAIP) hold scene footprints, so Polygons dominate; a few MultiPolygons
# (a footprint split by a no-data gap) and Points (e.g. in-situ or
# derived products) keep every branch of the WKB encoder in use. A
# footprint is a rotated rectangle (the orbit track is not north-up) whose
# edges carry 0..MAX_EDGE_VERTICES extra vertices each, as footprints
# traced from a valid-data mask do: 5 to 29 vertices per ring, 17 on
# average.
POINT, POLYGON, MULTIPOLYGON = 0, 1, 2
KIND_SHARES = (0.04, 0.90, 0.06)
MAX_EDGE_VERTICES = 6
MAX_TILT_DEG = 15.0


def iso(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def epoch(text: str) -> int:
    return int(
        dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%SZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


class Catalog:
    """``n`` generated STAC items as column arrays.

    Geometry is a Point, a Polygon footprint or a MultiPolygon of two
    footprints, in the shares of ``KIND_SHARES``. Footprint vertices are
    held flat in ``xy``; ring ``r`` is ``xy[ring_off[r]:ring_off[r + 1]]``
    without its closing vertex, and item ``i`` owns ``n_rings[i]`` rings
    from ``ring0[i]``. Every item carries ``proj:geometry`` in its
    properties and in its ``data`` asset, a ``collection`` property that
    collides with the top-level key (the forward path drops it), and
    per-collection extension fields, so the union schema has nulls; 5% of
    cloud covers are null.
    """

    def __init__(self, seed: int, n: int, prefix: str = "it"):
        rng = np.random.default_rng(seed)
        self.n = n
        self.prefix = prefix
        city = rng.integers(0, len(CITIES), n)
        anchors = np.array(CITIES)[city]
        local = rng.random(n) < 0.8
        cx = np.where(local, rng.normal(anchors[:, 0], 1.0), rng.uniform(-179, 179, n))
        cy = np.where(local, rng.normal(anchors[:, 1], 1.0), rng.uniform(-70, 75, n))
        self.kind = rng.choice(3, n, p=KIND_SHARES)
        cx = np.round(np.clip(cx, -178.5, 177.5), 6)
        cy = np.round(np.clip(cy, -88.5, 87.5), 6)
        w, h = rng.uniform(0.02, 0.3, n), rng.uniform(0.02, 0.3, n)
        tilt = np.radians(rng.uniform(-MAX_TILT_DEG, MAX_TILT_DEG, n))
        # ring 0 of every non-Point item, and a half-size second part of a
        # MultiPolygon, clear of the first
        mp = self.kind == MULTIPOLYGON
        self.n_rings = np.where(self.kind == POINT, 0, np.where(mp, 2, 1))
        self.ring0 = np.concatenate([[0], np.cumsum(self.n_rings)[:-1]])
        owner = np.repeat(np.arange(n), self.n_rings)
        second = np.zeros(len(owner), bool)
        second[self.ring0[mp] + 1] = True
        scale = np.where(second, 0.5, 1.0)
        shift = np.where(second, 0.9 * (w + h)[owner], 0.0)
        x, y, counts = _footprints(
            rng, cx[owner] + shift, cy[owner], w[owner] * scale, h[owner] * scale, tilt[owner]
        )
        self.ring_off = np.concatenate([[0], np.cumsum(counts)])
        self.xy = np.stack([x, y], axis=1)
        self.point = np.stack([cx, cy], axis=1)
        # bbox: the extent of each item's vertices
        lo = np.minimum.reduceat(self.xy, self.ring_off[:-1], axis=0)
        hi = np.maximum.reduceat(self.xy, self.ring_off[:-1], axis=0)
        bbox = np.concatenate([self.point, self.point], axis=1)
        first = self.ring0[self.n_rings > 0]
        has = np.flatnonzero(self.n_rings > 0)
        bbox[has, :2], bbox[has, 2:] = lo[first], hi[first]
        two = np.flatnonzero(mp)
        r2 = self.ring0[two] + 1
        bbox[two, :2] = np.minimum(bbox[two, :2], lo[r2])
        bbox[two, 2:] = np.maximum(bbox[two, 2:], hi[r2])
        self.bbox = bbox
        self.coll = rng.integers(0, len(COLLECTIONS), n)
        self.epoch = EPOCH0 + rng.integers(0, SPAN_DAYS * 86400, n)
        cloud = np.round(rng.uniform(0, 100, n), 2)
        self.cloud = np.where(rng.random(n) < 0.05, np.nan, cloud)
        self.gsd = rng.choice(np.array([10.0, 30.0, 0.6, 500.0]), n)
        self.epsg = 32600 + rng.integers(0, 60, n)
        self.proj = np.stack(
            [np.round(rng.uniform(3e5, 7e5, n), 1), np.round(rng.uniform(4e6, 5e6, n), 1)],
            axis=1,
        )
        self.ext = rng.integers(1, 234, n)
        self.nodata = np.where(rng.random(n) < 0.3, np.nan, np.round(rng.uniform(0, 50, n), 3))

    def ring(self, r: int) -> list:
        """Ring ``r`` as GeoJSON coordinates, closed."""
        pts = self.xy[self.ring_off[r] : self.ring_off[r + 1]].tolist()
        return pts + pts[:1]

    def _ring_texts(self, r_lo: int, r_hi: int) -> list[str]:
        """GeoJSON text of rings ``r_lo``..``r_hi - 1``, closed."""
        off = self.ring_off[r_lo : r_hi + 1] - self.ring_off[r_lo]
        pts = [f"[{x!r},{y!r}]" for x, y in self.xy[self.ring_off[r_lo] : self.ring_off[r_hi]].tolist()]
        return [
            "[" + ",".join(pts[a:b]) + "," + pts[a] + "]"
            for a, b in zip(off[:-1].tolist(), off[1:].tolist())
        ]

    def item_id(self, i: int) -> str:
        return f"{self.prefix}-{i:07d}"

    def ids(self) -> np.ndarray:
        return np.array([self.item_id(i) for i in range(self.n)])

    def geometry(self, i: int) -> dict:
        k = self.kind[i]
        if k == POINT:
            return {"type": "Point", "coordinates": self.point[i].tolist()}
        r = int(self.ring0[i])
        if k == POLYGON:
            return {"type": "Polygon", "coordinates": [self.ring(r)]}
        return {"type": "MultiPolygon", "coordinates": [[self.ring(r)], [self.ring(r + 1)]]}

    def write_ndjson(self, paths: list[str]) -> None:
        """Write every item, one per line, in order, split evenly over
        ``paths``.

        Lines are rendered from the arrays with string templates; a dict
        plus ``json.dumps`` per item took three times as long."""
        bounds = np.linspace(0, self.n, len(paths) + 1).astype(int).tolist()
        for path, lo, hi in zip(paths, bounds[:-1], bounds[1:]):
            with open(path, "w", encoding="utf-8") as f:
                f.write("".join(self._lines(lo, hi)))

    def _lines(self, lo: int, hi: int):
        sl = slice(lo, hi)
        bbox = self.bbox[sl].tolist()
        kind = self.kind[sl].tolist()
        coll = self.coll[sl].tolist()
        ep = np.datetime_as_string(self.epoch[sl].astype("datetime64[s]")).tolist()
        cloud = self.cloud[sl].tolist()
        gsd = self.gsd[sl].tolist()
        epsg = self.epsg[sl].tolist()
        proj = self.proj[sl].tolist()
        ext = self.ext[sl].tolist()
        nodata = self.nodata[sl].tolist()
        point = self.point[sl].tolist()
        rings = self._ring_texts(int(self.ring0[lo]), int(self.ring0[hi - 1] + self.n_rings[hi - 1]))
        ring0 = (self.ring0[sl] - self.ring0[lo]).tolist()
        for j in range(hi - lo):
            i = lo + j
            k = kind[j]
            if k == POINT:
                x0, y0 = point[j]
                geom = f'{{"type":"Point","coordinates":[{x0!r},{y0!r}]}}'
            else:
                ring = rings[ring0[j]]
                if k == POLYGON:
                    geom = f'{{"type":"Polygon","coordinates":[{ring}]}}'
                else:
                    geom = (
                        '{"type":"MultiPolygon","coordinates":'
                        f"[[{ring}],[{rings[ring0[j] + 1]}]]}}"
                    )
            c = COLLECTIONS[coll[j]]
            iid = f"{self.prefix}-{i:07d}"
            px, py = proj[j]
            pg = (
                '{"type":"Polygon","coordinates":'
                f"[{_ring(px, py, px + 10980.0, py + 10980.0)}]}}"
            )
            cc = "null" if cloud[j] != cloud[j] else repr(cloud[j])
            e = ext[j]
            if c == "landsat-like":
                extra = f',"landsat:wrs_path":"{e}","landsat:wrs_row":"{e % 200 + 1}"'
            elif c == "naip-like":
                extra = f',"naip:state":"{("co", "ca", "tx", "ny")[e % 4]}"'
            elif c == "sentinel-2-like":
                nd = "null" if nodata[j] != nodata[j] else repr(nodata[j])
                extra = (
                    f',"s2:mgrs_tile":"{e % 60 + 1:02d}TXX"'
                    f',"s2:nodata_pixel_percentage":{nd}'
                )
            else:
                extra = ""
            b = bbox[j]
            yield (
                '{"type":"Feature","stac_version":"1.0.0","stac_extensions":'
                f"{_EXTENSIONS},"
                f'"id":"{iid}","geometry":{geom},'
                f'"bbox":[{b[0]!r},{b[1]!r},{b[2]!r},{b[3]!r}],'
                f'"links":[{{"rel":"self","href":"https://example.com/{c}/items/{iid}",'
                '"type":"application/geo+json"},'
                f'{{"rel":"collection","href":"https://example.com/{c}"}}],'
                f'"assets":{{"data":{{"href":"https://example.com/{c}/{iid}.tif",'
                '"type":"image/tiff; application=geotiff","roles":["data"],'
                f'"proj:geometry":{pg}}},'
                f'"thumbnail":{{"href":"https://example.com/{c}/{iid}.png",'
                '"type":"image/png","roles":["thumbnail"]}},'
                f'"collection":"{c}",'
                f'"properties":{{"datetime":"{ep[j]}Z","eo:cloud_cover":{cc},'
                f'"platform":"{c.split("-")[0]}","gsd":{gsd[j]!r},'
                f'"proj:epsg":{epsg[j]},"proj:geometry":{pg},'
                f'"collection":"{c}"{extra}}}}}\n'
            )


_EXTENSIONS = json.dumps(
    [
        "https://stac-extensions.github.io/eo/v1.1.0/schema.json",
        "https://stac-extensions.github.io/projection/v1.1.0/schema.json",
    ],
    separators=(",", ":"),
)


def _ring(x0: float, y0: float, x1: float, y1: float) -> str:
    return (
        f"[[{x0!r},{y0!r}],[{x1!r},{y0!r}],[{x1!r},{y1!r}],"
        f"[{x0!r},{y1!r}],[{x0!r},{y0!r}]]"
    )


def _footprints(rng, cx, cy, w, h, tilt) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One closed-ring footprint per entry, without its closing vertex: a
    ``w`` x ``h`` rectangle centred on (``cx``, ``cy``) and turned by
    ``tilt`` radians, each edge split at 0..MAX_EDGE_VERTICES sorted
    points that lie up to 2% of the edge off it. Returns the x and y of
    every ring's vertices, ring after ring, rounded to 6 decimals, and the
    vertex count of each ring."""
    m, k = len(cx), MAX_EDGE_VERTICES
    corner_x = np.array([-0.5, 0.5, 0.5, -0.5])[None, :] * w[:, None]
    corner_y = np.array([-0.5, -0.5, 0.5, 0.5])[None, :] * h[:, None]
    dx = np.roll(corner_x, -1, axis=1) - corner_x
    dy = np.roll(corner_y, -1, axis=1) - corner_y
    # position along each edge: 0 is its first corner, then the extra
    # vertices; 2 marks an unused slot
    extra = rng.integers(0, k + 1, (m, 4))
    t = np.where(np.arange(k)[None, None, :] < extra[:, :, None], rng.random((m, 4, k)), 2.0)
    t = np.concatenate([np.zeros((m, 4, 1)), np.sort(t, axis=2)], axis=2)
    off = np.where(t > 0, rng.uniform(-0.02, 0.02, (m, 4, k + 1)), 0.0)
    x = corner_x[:, :, None] + t * dx[:, :, None] - off * dy[:, :, None]
    y = corner_y[:, :, None] + t * dy[:, :, None] + off * dx[:, :, None]
    cos, sin = np.cos(tilt)[:, None, None], np.sin(tilt)[:, None, None]
    gx = np.round(cx[:, None, None] + x * cos - y * sin, 6)
    gy = np.round(cy[:, None, None] + x * sin + y * cos, 6)
    keep = t <= 1.0
    return gx[keep], gy[keep], keep.reshape(m, -1).sum(axis=1)


# ---------------------------------------------------------------------------
# Searches
# ---------------------------------------------------------------------------
def _f(v: float) -> str:
    # fixed-point: the CQL2-text grammar has no exponent notation
    return f"{v:.4f}"


def make_searches(seed: int, n: int, block: int = 5) -> list[dict]:
    """``n`` STAC-API-style searches (collection + datetime interval +
    bbox + cloud-cover bound). Each run of ``block`` consecutive searches
    holds exactly one broad search (a continent and a quarter) at a random
    place and selective ones (a city and a month) elsewhere, so any window
    of the list has the same mix. Encodings alternate between CQL2-JSON
    and CQL2-text."""
    import random

    rng = random.Random(seed)
    out = []
    for i in range(n):
        if i % block == 0:
            broad_at = i + rng.randrange(block)
        if i != broad_at:
            cx, cy = rng.choice(CITIES)
            box = (cx - 0.5, cy - 0.5, cx + 0.5, cy + 0.5)
            days = 30
        else:
            box = rng.choice(CONTINENTS)
            days = 91
        start = EPOCH0 + rng.randrange(SPAN_DAYS - days) * 86400
        out.append(
            {
                "kind": "broad" if i == broad_at else "city",
                "encoding": "json" if i % 2 == 0 else "text",
                "collection": rng.choice(COLLECTIONS),
                "bbox": [float(_f(v)) for v in box],
                "interval": [iso(start), iso(start + days * 86400 - 1)],
                "cloud_lt": rng.choice((10, 30, 50, 80)),
            }
        )
    return out


def cql2_json(s: dict) -> dict:
    return {
        "op": "and",
        "args": [
            {"op": "=", "args": [{"property": "collection"}, s["collection"]]},
            {
                "op": "t_during",
                "args": [{"property": "datetime"}, {"interval": s["interval"]}],
            },
            {
                "op": "s_intersects",
                "args": [{"property": "geometry"}, {"bbox": s["bbox"]}],
            },
            {"op": "<", "args": [{"property": "eo:cloud_cover"}, s["cloud_lt"]]},
        ],
    }


def cql2_text(s: dict) -> str:
    lo, hi = s["interval"]
    b = ", ".join(_f(v) for v in s["bbox"])
    return (
        f"collection = '{s['collection']}'"
        f" AND T_DURING(datetime, INTERVAL('{lo}', '{hi}'))"
        f" AND S_INTERSECTS(geometry, BBOX({b}))"
        f" AND \"eo:cloud_cover\" < {s['cloud_lt']}"
    )


def expected_hits(cat: Catalog, s: dict) -> np.ndarray:
    """Indices of the items a search must return, evaluated on the
    generator's arrays: bbox overlap and inclusive datetime bounds, the
    semantics ``stac.cql2`` documents. A null cloud cover (NaN) never
    satisfies ``<``."""
    xmin, ymin, xmax, ymax = s["bbox"]
    lo, hi = (epoch(t) for t in s["interval"])
    b = cat.bbox
    hit = (
        (cat.coll == COLLECTIONS.index(s["collection"]))
        & (cat.cloud < s["cloud_lt"])
        & (cat.epoch >= lo) & (cat.epoch <= hi)
        & (b[:, 0] <= xmax) & (b[:, 2] >= xmin)
        & (b[:, 1] <= ymax) & (b[:, 3] >= ymin)
    )
    return np.flatnonzero(hit)


def expected_wkb(geom: dict) -> bytes:
    """ISO WKB (little-endian, 2-D) of a generated geometry, packed here
    independently of the program's codec."""
    import struct

    def ring(r):
        return struct.pack("<I", len(r)) + b"".join(struct.pack("<2d", *p) for p in r)

    def polygon(rings):
        return struct.pack("<BII", 1, 3, len(rings)) + b"".join(ring(r) for r in rings)

    t, c = geom["type"], geom["coordinates"]
    if t == "Point":
        return struct.pack("<BI2d", 1, 1, *c)
    if t == "Polygon":
        return polygon(c)
    return struct.pack("<BII", 1, 6, len(c)) + b"".join(polygon(p) for p in c)
