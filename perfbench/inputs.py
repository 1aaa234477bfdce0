"""Seeded inputs for the benchmark workloads.

Everything the program receives is generated here from the workload seed
(and, for ad-hoc geometry, the run index), so the same seed gives the same
inputs and a new (seed, index) pair gives geometry no process has seen.
Sizes are fixed; only the content varies with the seed.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from s2_geometry_kotlin_spark.kernel import cellid as ck
from s2_geometry_kotlin_spark.kernel.polyline import Polyline
from s2_geometry_kotlin_spark.kernel.regions import Loop, Polygon
from s2_geometry_kotlin_spark.sources.layers import regular_loop_vertices
from s2_geometry_kotlin_spark.sources.pages import CITIES

_VOCAB = ("a the spark line column order small sort fast value scan hash "
          "slow group batch agg filter query big key window row part table "
          "stream merge data vector join customer index cell page tile map "
          "road city river coast border shard node edge graph point region "
          "loop ring polygon route trip area zone grid level leaf parent "
          "child face axis").split()
_LANGS = ("en", "de", "fr", "zh", "es")
_HOT = [(la / 1e6, lo / 1e6) for la, lo in CITIES]
_DUP_SHARE = 0.25  # share of documents that are near-copies of another


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) & 0xFFFFFFFF for k in key])


def write_documents(path: str, seed: int, n_docs: int) -> str:
    """Write a `documents` parquet (doc_id, text, lang, source, n_chars)
    into `path` and return `path`.

    Doc ids are a seeded sample of a wide id range, so the page
    coordinates the pages synthesizer derives from them change with the
    seed.  `_DUP_SHARE` of the documents are near-copies (one or two words
    replaced) of an earlier document, which gives MinHash-LSH true pairs.
    """
    rng = _rng(seed, 1)
    ids = np.sort(rng.choice(n_docs * 50, size=n_docs, replace=False))
    weights = 1.0 / np.arange(1, len(_VOCAB) + 1)
    weights /= weights.sum()
    words: list[list[str]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < _DUP_SHARE:
            w = list(words[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 3))):
                w[int(rng.integers(0, len(w)))] = str(rng.choice(_VOCAB))
        else:
            n = int(rng.integers(8, 64))
            w = [str(x) for x in rng.choice(_VOCAB, size=n, p=weights)]
        words.append(w)
    texts = [" ".join(w) for w in words]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[int(k)] for k in
                          rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array([f"src{int(k)}" for k in
                            rng.integers(0, 8, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return path


def _ring(lat: float, lon: float, radius_deg: float,
          nv: int) -> Polygon:
    return Polygon([Loop(regular_loop_vertices(lat, lon, radius_deg, nv))])


def polygon_layer(seed: int, index: int, n_hot: int, n_wide: int):
    """(layer, polygon_id, Polygon) rows plus (lat, lon, radius_deg) of each
    polygon's bounding cap, for the brute-force containment check.

    Hot polygons sit inside a hot-city cluster (pages there lie within
    +-0.01 deg of the city centre); wide polygons are rings of 1-4 deg
    anywhere between +-70 deg latitude."""
    rng = _rng(seed, 2, index)
    rows, caps = [], []
    for pid in range(n_hot + n_wide):
        if pid < n_hot:
            lat, lon = _HOT[int(rng.integers(0, len(_HOT)))]
            lat += float(rng.uniform(-0.004, 0.004))
            lon += float(rng.uniform(-0.004, 0.004))
            radius, name = float(rng.uniform(0.003, 0.008)), "hot"
        else:
            lat = float(rng.uniform(-70.0, 70.0))
            lon = float(rng.uniform(-180.0, 180.0))
            radius, name = float(rng.uniform(1.0, 4.0)), "wide"
        nv = int(rng.integers(6, 13))
        rows.append((name, pid, _ring(lat, lon, radius, nv)))
        caps.append((lat, lon, radius))
    return rows, caps


def knn_queries(seed: int, index: int, n: int):
    """[(query_id, lat, lon)]: half at hot cities, half within 1 deg of a
    pole.  Pages lie within +-80 deg latitude, so a polar query's nearest
    page is over 9 deg away, beyond knn_points' first radius, and the
    radius escalates."""
    rng = _rng(seed, 3, index)
    out = []
    for q in range(n):
        if q % 2 == 0:
            lat, lon = _HOT[int(rng.integers(0, len(_HOT)))]
            lat += float(rng.uniform(-0.01, 0.01))
            lon += float(rng.uniform(-0.01, 0.01))
        else:
            lat = float(rng.uniform(89.0, 89.95)) * (1 if rng.random() < 0.5
                                                     else -1)
            lon = float(rng.uniform(-180.0, 180.0))
        out.append((q, lat, lon))
    return out


def routes(seed: int, index: int, n: int):
    """[(route_id, Polyline)]: each route starts at a hot city and takes
    two hops of 2-8 deg in random directions."""
    rng = _rng(seed, 4, index)
    out = []
    for rid in range(n):
        lat, lon = _HOT[int(rng.integers(0, len(_HOT)))]
        pts = [(lat, lon)]
        for _ in range(2):
            step = float(rng.uniform(2.0, 8.0))
            bearing = float(rng.uniform(0.0, 2.0 * math.pi))
            lat = float(np.clip(lat + step * math.cos(bearing), -75, 75))
            lon = (lon + step * math.sin(bearing) + 540.0) % 360.0 - 180.0
            pts.append((lat, lon))
        out.append((rid, Polyline.from_latlng_deg(pts)))
    return out


def range_cells(seed: int, n: int) -> list[int]:
    """Signed level-7..9 cell ids for range reads: half over hot cities,
    half at uniform random points."""
    rng = _rng(seed, 5)
    out = []
    for i in range(n):
        if i % 2 == 0:
            lat, lon = _HOT[int(rng.integers(0, len(_HOT)))]
        else:
            lat = float(rng.uniform(-70.0, 70.0))
            lon = float(rng.uniform(-180.0, 180.0))
        leaf = ck.from_latlng_deg(np.array([lat]), np.array([lon]))
        level = int(rng.integers(7, 10))
        out.append(int(ck.to_signed(ck.parent(leaf, level))[0]))
    return out
