"""Expected results, computed without the package.

WKT is parsed here with a regex, containment is the exact half-plane test
for convex AOIs (every AOI the fixtures draw is convex), windows compare
centroids, and kNN is a brute-force haversine ranking. Results are
compared as a count plus an order-free checksum.
"""

from __future__ import annotations

import math
import re
import zlib

import numpy as np

_RING = re.compile(r"\(([^()]+)\)")


def crc(s: str) -> int:
    return zlib.crc32(s.encode())


def crc_sum(strings) -> int:
    return sum(crc(s) for s in strings)


def e6(v: float) -> int:
    """Coordinate in whole micro-degrees, rounded half up; the Spark side
    of a checksum uses the same ``floor(v * 1e6 + 0.5)``."""
    return math.floor(v * 1e6 + 0.5)


def parse_rings(wkt: str) -> list[np.ndarray]:
    """Every ring of a POLYGON/MULTIPOLYGON as an (n, 2) array."""
    return [
        np.array(r.replace(",", " ").split(), dtype=np.float64).reshape(-1, 2)
        for r in _RING.findall(wkt)
    ]


def _ring_centroid(r: np.ndarray) -> tuple[float, float, float]:
    """(signed area, cx, cy) by the shoelace formula, taken about the
    first vertex: absolute coordinates would cancel catastrophically for
    footprints a few metres wide."""
    ox, oy = r[0]
    x, y = r[:-1, 0] - ox, r[:-1, 1] - oy
    x1, y1 = r[1:, 0] - ox, r[1:, 1] - oy
    c = x * y1 - x1 * y
    a = c.sum() / 2.0
    return a, ox + ((x + x1) * c).sum() / (6 * a), oy + ((y + y1) * c).sum() / (6 * a)


class Footprints:
    """Building footprints: one entry per geometry, with every vertex (for
    containment) and the area-weighted centroid (for windows and kNN)."""

    def __init__(self, ids: list[str], wkts: list[str], split_parts: bool = False):
        """``split_parts`` makes each polygon of a MULTIPOLYGON its own
        entry, as the Google CSV conversion does."""
        self.ids: list[str] = []
        verts, cents = [], []
        for gid, wkt in zip(ids, wkts):
            rings = parse_rings(wkt)
            groups = [[r] for r in rings] if split_parts else [rings]
            for g in groups:
                pts = np.concatenate(g)
                parts = [_ring_centroid(r) for r in g]
                area = sum(p[0] for p in parts)
                cents.append(
                    (
                        sum(p[0] * p[1] for p in parts) / area,
                        sum(p[0] * p[2] for p in parts) / area,
                    )
                )
                verts.append(pts)
                self.ids.append(gid)
        width = max((len(v) for v in verts), default=1)
        # pad by repeating the first vertex: harmless for "all inside"
        self.verts = np.stack(
            [np.concatenate([v, np.repeat(v[:1], width - len(v), axis=0)]) for v in verts]
        ) if verts else np.zeros((0, 1, 2))
        self.cent = np.array(cents, dtype=np.float64).reshape(-1, 2)
        self.lo = self.verts.min(axis=1) if len(verts) else np.zeros((0, 2))
        self.hi = self.verts.max(axis=1) if len(verts) else np.zeros((0, 2))

    def __len__(self) -> int:
        return len(self.ids)

    def within(self, ring) -> np.ndarray:
        """Indices of footprints strictly inside the convex ``ring``."""
        r = np.asarray(ring, dtype=np.float64)
        if r.shape[0] > 1 and np.array_equal(r[0], r[-1]):
            r = r[:-1]
        x, y = r[:, 0], r[:, 1]
        if (x * np.roll(y, -1) - np.roll(x, -1) * y).sum() < 0:
            r = r[::-1]
        w, s = r.min(axis=0)
        e, n = r.max(axis=0)
        cand = np.nonzero(
            (self.lo[:, 0] > w) & (self.lo[:, 1] > s) & (self.hi[:, 0] < e) & (self.hi[:, 1] < n)
        )[0]
        if len(cand) == 0:
            return cand
        p = self.verts[cand]
        ok = np.ones(p.shape[:2], dtype=bool)
        for i in range(len(r)):
            ax, ay = r[i]
            bx, by = r[(i + 1) % len(r)]
            ok &= (bx - ax) * (p[..., 1] - ay) - (by - ay) * (p[..., 0] - ax) > 0
        return cand[ok.all(axis=1)]

    def in_window(self, w: float, s: float, e: float, n: float) -> np.ndarray:
        c = self.cent
        return np.nonzero(
            (c[:, 0] >= w) & (c[:, 0] <= e) & (c[:, 1] >= s) & (c[:, 1] <= n)
        )[0]

    def knn_ok(self, lon: float, lat: float, k: int, got: list[str]) -> bool:
        """True iff ``got`` is a valid k-nearest set: it holds every
        footprint strictly closer than the k-th distance and only ones at
        most that far (ties at the k-th distance may go either way)."""
        d = _haversine(lon, lat, self.cent[:, 0], self.cent[:, 1])
        order = np.argsort(d, kind="stable")
        kth = d[order[min(k, len(d)) - 1]]
        tol = 1e-6 * max(kth, 1.0)
        must = {self.ids[i] for i in np.nonzero(d < kth - tol)[0]}
        may = {self.ids[i] for i in np.nonzero(d <= kth + tol)[0]}
        g = set(got)
        return len(got) == min(k, len(d)) and must <= g <= may


def _haversine(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2 - lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * 6371008.8 * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def docs_footprints(docs_parquet: str) -> Footprints:
    """Footprints of the docs corpus, read straight from the parquet: the
    text of each doc's ``geometry`` span."""
    import pyarrow.parquet as pq

    t = pq.read_table(docs_parquet, columns=["doc_id", "spans"]).to_pylist()
    ids, wkts = [], []
    for row in t:
        for sp in row["spans"]:
            if sp["kind"] == "geometry" and sp["text"]:
                ids.append(row["doc_id"])
                wkts.append(sp["text"])
                break
    return Footprints(ids, wkts)


def csv_rows(csv_dir: str) -> list[tuple[str, float]]:
    """(geometry, confidence) of every row of a Google-format CSV directory."""
    import glob

    import pyarrow.csv as pcsv

    out: list[tuple[str, float]] = []
    opts = pcsv.ConvertOptions(include_columns=["geometry", "confidence"])
    for f in sorted(glob.glob(f"{csv_dir}/*.csv")):
        t = pcsv.read_csv(f, convert_options=opts)
        out.extend(zip(t.column("geometry").to_pylist(), t.column("confidence").to_pylist()))
    return out


def parts(rows) -> int:
    """Rows the Google CSV conversion yields: one per polygon part."""
    return sum(len(_RING.findall(g)) for g, _ in rows)
