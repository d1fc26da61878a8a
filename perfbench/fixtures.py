"""Seeded benchmark inputs, cached on disk by seed, size and generator revision.

Everything here is an *input*: the docs corpus, the Google-format CSVs, the
AOIs, kNN points, windows and the append/upsert batches. Artifacts the
program writes (tables, S2 table, exports) are never cached; the workloads
rebuild them on every run with the code under test.

Buildings follow the derivation documented in
``open_buildings_spark.datagen`` (integer hash of a (order, line) key ->
city block, z12 tile, jitter, footprint square or two-square
multipolygon), computed here with NumPy and written with pyarrow: the
inputs do not depend on the package, and need no Spark job. Keys are drawn
from the seed. Geometry (AOIs, points, windows) is drawn with NumPy from
the seed too; its size and type schedule is fixed, so two seeds differ in
where the queries fall, not in how many of each kind run.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import zlib

import numpy as np

# bump when anything below changes what a seed generates
FIXTURE_REV = 2

# corpus size: orders drawn per seed (each order has 1..7 lines -> ~4 docs)
N_ORDERS = 5000
# z12 origins of the five 64x64-tile city blocks (datagen.CITY_TILES) and
# the city of a building by bid % 10: 40/20/20/10/10 skew
CITY_TILES = [(2466, 2062), (2086, 1974), (3263, 2120), (614, 1580), (2316, 1400)]
CITY_BLOCK = 64
_CITY_OF_DIGIT = np.array([0, 0, 0, 0, 1, 1, 2, 2, 3, 4])


def _tile_lon(tx: float) -> float:
    return tx / 4096 * 360.0 - 180.0


def _tile_lat(ty: float) -> float:
    return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * ty / 4096))))


def _feature(ring: list[list[float]]) -> dict:
    return {
        "type": "Feature",
        "properties": {},
        "geometry": {"type": "Polygon", "coordinates": [ring]},
    }


def rect_ring(w: float, s: float, e: float, n: float) -> list[list[float]]:
    return [[w, s], [e, s], [e, n], [w, n], [w, s]]


def convex_ring(rng, cx, cy, rx, ry, k: int) -> list[list[float]]:
    """A convex k-gon inscribed in the ellipse (cx, cy, rx, ry), rotated
    at random; counter-clockwise and closed."""
    step = 2 * math.pi / k
    # evenly spaced angles, each jittered by under a third of the spacing:
    # the order is kept and the polygon is never a sliver
    ang = np.arange(k) * step + rng.uniform(-step / 3, step / 3, size=k)
    ang += rng.uniform(0, 2 * math.pi)
    ring = [[cx + rx * math.cos(a), cy + ry * math.sin(a)] for a in ang]
    return ring + [ring[0]]


def countries() -> list[tuple[str, list]]:
    """Country polygons for ``add_geo_columns(countries=...)``: one rect
    per city block (0.1 deg margin) plus an overlapping country over the
    west half of city 0 (datagen.countries)."""
    out = []
    for i, (tx, ty) in enumerate(CITY_TILES):
        w, e = _tile_lon(tx) - 0.1, _tile_lon(tx + CITY_BLOCK) + 0.1
        s, n = _tile_lat(ty + CITY_BLOCK) - 0.1, _tile_lat(ty) + 0.1
        out.append(("AABBCCDDEE"[2 * i : 2 * i + 2], (w, s, e, n)))
    tx, ty = CITY_TILES[0]
    w, e = _tile_lon(tx), _tile_lon(tx + CITY_BLOCK)
    out.append(("A0", (w, _tile_lat(ty + CITY_BLOCK), (w + e) / 2, _tile_lat(ty))))
    return [(iso, [(rect_ring(*b), False)]) for iso, b in out]


def _city_box(city: int, size_tiles: float, rng) -> tuple[float, float, float, float]:
    """A box of ``size_tiles`` z12 tiles placed at random inside a city
    block (its lower corner in the block's first 64 - size tiles)."""
    tx, ty = CITY_TILES[city]
    room = max(64.0 - size_tiles, 0.0)
    x0 = tx + rng.uniform(0, room)
    y0 = ty + rng.uniform(0, room)
    w, e = _tile_lon(x0), _tile_lon(x0 + size_tiles)
    n, s = _tile_lat(y0), _tile_lat(y0 + size_tiles)
    return w, s, e, n


def _sizes(n: int, lo: float, hi: float) -> list[float]:
    """Log-spaced sizes from ``lo`` to ``hi`` tiles: one block to one city."""
    if n == 1:
        return [lo]
    return [lo * (hi / lo) ** (i / (n - 1)) for i in range(n)]


def _cities(n: int) -> list[int]:
    """Fixed city schedule following the corpus skew (40/20/20/10/10)."""
    order = [0, 1, 2, 0, 3, 0, 1, 2, 0, 4]
    return [order[i % len(order)] for i in range(n)]


def aoi_set(rng, n_rect: int, n_poly: int, n_empty: int, lo: float, hi: float) -> list[dict]:
    """AOI queries as {kind, feature}: axis-aligned rects, convex non-rect
    polygons (3..8 vertices) and empty-ocean boxes."""
    out = []
    for kind, n in (("rect", n_rect), ("poly", n_poly)):
        for size, city in zip(_sizes(n, lo, hi), _cities(n)):
            w, s, e, n_ = _city_box(city, size, rng)
            if kind == "rect":
                ring = rect_ring(w, s, e, n_)
            else:
                k = int(rng.integers(3, 9))
                ring = convex_ring(
                    rng, (w + e) / 2, (s + n_) / 2, (e - w) / 2, (n_ - s) / 2, k
                )
            out.append({"kind": kind, "feature": _feature(ring)})
    for _ in range(n_empty):
        w = rng.uniform(-40.0, -25.0)
        s = rng.uniform(-45.0, -30.0)
        out.append({"kind": "empty", "feature": _feature(rect_ring(w, s, w + 0.5, s + 0.5))})
    return out


def knn_points(rng, n: int) -> list[tuple[int, float, float]]:
    """Query points inside the city blocks (city schedule fixed)."""
    pts = []
    for i, city in enumerate(_cities(n)):
        tx, ty = CITY_TILES[city]
        pts.append((i, _tile_lon(tx + rng.uniform(8, 56)), _tile_lat(ty + rng.uniform(8, 56))))
    return pts


def windows(rng, n: int, lo: float, hi: float) -> list[tuple[float, float, float, float]]:
    return [_city_box(c, s, rng) for s, c in zip(_sizes(n, lo, hi), _cities(n))]


def _lineitem(rng, n_orders: int, key_lo: int, key_hi: int):
    """Distinct (l_orderkey, l_linenumber) pairs: ``n_orders`` orders drawn
    from [key_lo, key_hi), each with 1..7 lines."""
    ok = np.sort(rng.choice(key_hi - key_lo, size=n_orders, replace=False)) + key_lo
    nl = rng.integers(1, 8, size=n_orders)
    lok = np.repeat(ok, nl).astype(np.int64)
    lln = np.concatenate([np.arange(1, k + 1) for k in nl]).astype(np.int32)
    return ok.astype(np.int64), lok, lln


def _quadkeys(tx: np.ndarray, ty: np.ndarray, zoom: int) -> list[str]:
    digits = np.zeros((len(tx), zoom), dtype=np.int64)
    for i, k in enumerate(range(zoom - 1, -1, -1)):
        digits[:, i] = ((tx >> k) & 1) + 2 * ((ty >> k) & 1)
    return ["".join(map(str, row)) for row in digits]


def _square(x0, x1, y0, y1) -> str:
    return f"{x0:.17g} {y0:.17g}, {x1:.17g} {y0:.17g}, {x1:.17g} {y1:.17g}, {x0:.17g} {y1:.17g}, {x0:.17g} {y0:.17g}"


def buildings(bid: np.ndarray) -> dict:
    """Buildings by id (``bid = 8 * orderkey + line``), datagen's
    derivation: an LCG hash picks the city (skewed), the z12 tile in its
    64x64 block and a jitter that keeps the centre 0.1 tile from any tile
    edge; the footprint is a square of half-size 50..170 um-degrees, a
    second square at +6r for every 31st doc, none for every 23rd."""
    bid = np.asarray(bid, dtype=np.int64)
    h = (bid * 1103515245 + 12345) % 2147483648
    city = _CITY_OF_DIGIT[bid % 10]
    cx = np.array([t[0] for t in CITY_TILES])[city]
    cy = np.array([t[1] for t in CITY_TILES])[city]
    tx = cx + h % 64
    ty = cy + (h // 64) % 64
    fx = ((h % 1000) / 1000.0 - 0.5) * 0.8
    fy = ((h % 997) / 997.0 - 0.5) * 0.8
    lon = (tx + 0.5 + fx) / 4096 * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (ty + 0.5 + fy) / 4096))))
    r = 0.00005 + (h % 7) * 0.00002
    has_geom = bid % 23 != 0
    is_multi = has_geom & (bid % 31 == 0)
    wkt = []
    for i in range(len(bid)):
        if not has_geom[i]:
            wkt.append(None)
            continue
        sq = _square(lon[i] - r[i], lon[i] + r[i], lat[i] - r[i], lat[i] + r[i])
        if is_multi[i]:
            sq2 = _square(lon[i] + 5 * r[i], lon[i] + 7 * r[i], lat[i] - r[i], lat[i] + r[i])
            wkt.append(f"MULTIPOLYGON ((({sq})), (({sq2})))")
        else:
            wkt.append(f"POLYGON (({sq}))")
    return {
        "bid": bid, "city": city, "lon": lon, "lat": lat, "r": r,
        "conf": (h % 101) / 100.0, "wkt": wkt,
        "qk_media": _quadkeys(tx + (h % 17 == 0), ty, 12),
    }


def write_docs(b: dict, path: str) -> None:
    """The interleaved-docs table (doc_id, spans) of ``buildings``: text,
    geometry, confidence and media spans at offsets 0..3; docs without
    geometry keep only text and confidence."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spans = []
    for i in range(len(b["bid"])):
        row = [{"kind": "text", "text": f"building {b['bid'][i]} in city {b['city'][i]}", "media_ref": "", "offset": 0}]
        if b["wkt"][i] is not None:
            row.append({"kind": "geometry", "text": b["wkt"][i], "media_ref": "", "offset": 1})
        row.append({"kind": "attr:confidence", "text": f"{b['conf'][i]:.2f}", "media_ref": "", "offset": 2})
        if b["wkt"][i] is not None:
            row.append({"kind": "media", "text": "", "media_ref": "tile/z12/" + b["qk_media"][i], "offset": 3})
        spans.append(row)
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    t = pa.table(
        {
            "doc_id": pa.array([f"doc-{v}" for v in b["bid"]], pa.string()),
            "spans": pa.array(spans, pa.list_(span_t)),
        }
    )
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(t.num_rows), 4)):
        pq.write_table(t.take(part), os.path.join(path, f"part-{i}.parquet"))


def write_google_csv(b: dict, path: str, confidence=None) -> None:
    """One file of the Google Open Buildings CSV layout (the shape
    ``bench.py`` converts) with the buildings that have a footprint;
    ``confidence`` overrides the derived one (an upsert marker)."""
    import pyarrow as pa
    import pyarrow.csv as pcsv

    keep = np.array([w is not None for w in b["wkt"]], dtype=bool)
    conf = b["conf"][keep] if confidence is None else np.full(keep.sum(), float(confidence))
    t = pa.table(
        {
            "latitude": b["lat"][keep],
            "longitude": b["lon"][keep],
            "area_in_meters": (b["r"] * b["r"] * 4)[keep],
            "confidence": conf,
            "geometry": pa.array([w for w in b["wkt"] if w is not None], pa.string()),
            "full_plus_code": pa.array(["XXXXXXXX+XX"] * int(keep.sum()), pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pcsv.write_csv(t, path)


def big_aois(orders: np.ndarray) -> tuple[list[int], list[str]]:
    """datagen.big_aois_df's rects: per order key a z12-aligned 1..4 x 1..4
    tile rect inside one z10 tile of a city block, edges inset 1e-6."""
    aid = np.asarray(orders, dtype=np.int64)
    h = (aid * 48271 + 11) % 2147483648
    city = _CITY_OF_DIGIT[aid % 10]
    cx = np.array([t[0] for t in CITY_TILES])[city]
    cy = np.array([t[1] for t in CITY_TILES])[city]
    x10 = (cx + 3) // 4 + h % 14
    y10 = (cy + 3) // 4 + (h // 14) % 14
    g = h // 196
    wx, wy = 1 + g % 4, 1 + (g // 4) % 4
    sx = 4 * x10 + (g // 16) % (5 - wx)
    sy = 4 * y10 + (g // 80) % (5 - wy)
    wkts = []
    for i in range(len(aid)):
        w = _tile_lon(sx[i]) + 1e-6
        e = _tile_lon(sx[i] + wx[i]) - 1e-6
        n = _tile_lat(sy[i]) - 1e-6
        s_ = _tile_lat(sy[i] + wy[i]) + 1e-6
        wkts.append(ring_wkt(rect_ring(w, s_, e, n)))
    return [int(a) for a in aid], wkts


def _rng(seed: int, stream: str):
    """An independent generator per input kind, so adding one kind never
    shifts another's draws."""
    return np.random.default_rng([seed, FIXTURE_REV, zlib.crc32(stream.encode())])


def corpus_keys(seed: int):
    """(orders, l_orderkey, l_linenumber) of the main corpus."""
    return _lineitem(_rng(seed, "corpus"), N_ORDERS, 1, 40 * N_ORDERS + 1)


def batch_bids(seed: int, rounds: int) -> dict[str, tuple[np.ndarray, float | None]]:
    """Building ids of the main CSV and of each round's append and upsert
    batch, with the confidence marker of the upsert's replace half. New
    buildings come from disjoint order-key ranges; the replace half of an
    upsert re-sends existing buildings (same geometry, so the same key)
    with a marker confidence."""
    orders, lok, lln = corpus_keys(seed)
    rng = _rng(seed, "batches")
    span = 40 * N_ORDERS
    n_new = max(N_ORDERS // 50, 1)
    out = {"main": (lok * 8 + lln, None)}
    for i in range(rounds):
        for j, name in enumerate((f"append{i}", f"upsert{i}_new")):
            lo = span * (2 + 2 * i + j) + 1
            _, k, ln = _lineitem(rng, n_new, lo, lo + span)
            out[name] = (k * 8 + ln, None)
        sel = np.isin(lok, orders[rng.choice(N_ORDERS, size=n_new, replace=False)])
        out[f"upsert{i}_old"] = (lok[sel] * 8 + lln[sel], upsert_marker(i))
    return out


def make_queries(seed: int, spec: dict) -> dict:
    """AOIs, probes, kNN points and windows for one seed (JSON-ready)."""
    return {
        "aois": aoi_set(_rng(seed, "aois"), *spec["aois"]) if spec.get("aois") else [],
        "probes": aoi_set(_rng(seed, "probes"), 0, *spec["probes"]) if spec.get("probes") else [],
        "knn": knn_points(_rng(seed, "knn"), spec.get("knn", 0)),
        "windows": windows(_rng(seed, "windows"), spec.get("windows", 0), 1.0, 24.0),
    }


class Fixtures:
    """Seeded inputs for one (seed, size) pair, generated once and cached
    under ``cache_root``. ``spec`` fixes how many of each input a workload
    needs; it is part of the cache key."""

    def __init__(self, cache_root: str, seed: int, spec: dict):
        self.seed = seed
        self.spec = spec
        tag = zlib.crc32(json.dumps(spec, sort_keys=True).encode())
        self.dir = os.path.join(cache_root, f"f{FIXTURE_REV}-o{N_ORDERS}-s{seed}-{tag}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def ready(self) -> bool:
        return os.path.exists(self.path("_DONE"))

    def ensure(self) -> bool:
        """Generate the inputs unless cached; returns True on a cache hit."""
        if self.ready():
            return True
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self._generate()
        with open(self.path("_DONE"), "w") as fh:
            fh.write("ok\n")
        return False

    def _generate(self) -> None:
        spec = self.spec
        orders, lok, lln = corpus_keys(self.seed)
        if spec.get("docs"):
            write_docs(buildings(lok * 8 + lln), self.path("docs.parquet"))
        if spec.get("csv"):
            for name, (bids, marker) in batch_bids(self.seed, spec["rounds"]).items():
                # an upsert batch is one CSV directory holding both halves
                batch, _, half = name.partition("_")
                write_google_csv(
                    buildings(bids), os.path.join(self.csv(batch), f"{half or 'all'}.csv"), marker
                )
        if spec.get("join_aois"):
            self._join_aois(orders, _rng(self.seed, "join_aois"))
        with open(self.path("queries.json"), "w") as fh:
            json.dump(make_queries(self.seed, spec), fh)

    def csv(self, batch: str) -> str:
        """CSV directory of one batch: ``main``, ``append<i>``, ``upsert<i>``."""
        return self.path("csv", batch)

    def _join_aois(self, orders, rng) -> None:
        """Skewed AOI side of the big-big join: a 1-in-10 subset of
        datagen's z12-aligned rects plus seeded tiny, megacity and non-rect
        polygons."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids, wkts = big_aois(orders[orders % 10 == 0])
        next_id = 10**9
        n_tiny, n_mega, n_poly = self.spec["join_aois"]
        extra = []
        for size, city in zip(_sizes(n_tiny, 0.05, 0.5), _cities(n_tiny)):
            extra.append(rect_ring(*_city_box(city, size, rng)))
        for size in _sizes(n_mega, 24.0, 48.0):
            extra.append(rect_ring(*_city_box(0, size, rng)))
        for size, city in zip(_sizes(n_poly, 1.0, 16.0), _cities(n_poly)):
            w, s, e, n = _city_box(city, size, rng)
            k = int(rng.integers(3, 9))
            extra.append(convex_ring(rng, (w + e) / 2, (s + n) / 2, (e - w) / 2, (n - s) / 2, k))
        for ring in extra:
            ids.append(next_id)
            wkts.append(ring_wkt(ring))
            next_id += 1
        pq.write_table(
            pa.table({"aoi_id": pa.array(ids, pa.int64()), "wkt": pa.array(wkts, pa.string())}),
            self.path("join_aois.parquet"),
        )

    def queries(self) -> dict:
        with open(self.path("queries.json")) as fh:
            return json.load(fh)


def upsert_marker(i: int) -> float:
    return 2.0 + i


def ring_wkt(ring) -> str:
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"
