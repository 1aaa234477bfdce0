"""Output checks: order-independent digests and independent reference paths.

Every operation's output is reduced to (row count, sum of xxhash64 over
its rows).  The sum does not depend on row order or partitioning, so two
paths that return the same multiset of rows give the same digest, and one
wrong, missing or extra row changes it.  The reference paths here share no
code with the operator under test beyond the point kernels: brute force
over every page instead of coverings, probes and joins.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_kotlin_spark.kernel import cellid as ck
from s2_geometry_kotlin_spark.kernel import distance as dist
from s2_geometry_kotlin_spark.kernel import pip
from s2_geometry_kotlin_spark.sources.pages import CITIES


def digest(df: DataFrame, columns: list[str] | None = None) -> tuple:
    """(rows, hash sum) of `df` over `columns` (default: all columns).

    The sum runs in decimal so that it cannot overflow under ANSI mode."""
    cols = columns or df.columns
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
                 .alias("h")).first()
    return int(row["n"]), str(row["h"] or 0)


def frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side reference rows as a DataFrame with the operator's
    column types.  Built from pandas, so the rows go to the JVM as Arrow
    batches instead of through a Python-worker job."""
    names = [col.split()[0] for col in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def digest_many(frames: dict[str, DataFrame]) -> dict[str, tuple]:
    """{name: digest} of several frames in one Spark job."""
    aggs = [df.agg(F.lit(name).alias("name"),
                   F.count(F.lit(1)).alias("n"),
                   F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                   .alias("h"))
            for name, df in frames.items()]
    rows = functools.reduce(DataFrame.unionByName, aggs).collect()
    return {r["name"]: (int(r["n"]), str(r["h"] or 0)) for r in rows}


class PageSet:
    """The geocoded pages, collected once to the driver for brute force."""

    def __init__(self, pdf: pd.DataFrame):
        self.url = pdf["url"].to_numpy()
        self.lat = pdf["lat"].to_numpy(dtype=np.float64)
        self.lon = pdf["lon"].to_numpy(dtype=np.float64)
        self.cell_id = pdf["cell_id"].to_numpy(dtype=np.int64)
        x, y, z = ck.latlng_deg_to_xyz(self.lat, self.lon)
        self.xyz = np.stack([x, y, z], axis=1)

    def near(self, lat: float, lon: float, radius_deg: float) -> np.ndarray:
        """Indices of pages within `radius_deg` (plus a margin) of a point."""
        c = ck.latlng_deg_to_xyz(np.array([lat]), np.array([lon]))
        center = np.array([c[0][0], c[1][0], c[2][0]])
        cos_r = np.cos(np.radians(min(180.0, radius_deg * 1.01 + 1e-6)))
        return np.nonzero(self.xyz @ center >= cos_r)[0]


def join_rows(pages: PageSet, layer, caps) -> list[tuple]:
    """(url, layer, polygon_id) of every page a polygon contains, by the
    point-in-polygon kernel over all pages near the polygon."""
    out = []
    for (name, pid, poly), (lat, lon, radius) in zip(layer, caps):
        idx = pages.near(lat, lon, radius)
        if len(idx) == 0:
            continue
        inside = pip.polygon_contains_points(
            [lp.vertices for lp in poly.loops], pages.xyz[idx],
            inverted=bool(getattr(poly, "inverted", False)))
        out.extend((str(pages.url[i]), name, pid) for i in idx[inside])
    return out


def knn_rows(xyz: np.ndarray, urls: np.ndarray, queries, k: int):
    """(query_id, url, rank) of the k nearest pages per query by a full
    distance sort, ties broken by url like the operator.  `xyz` must be
    the operator's own page vectors so that distances agree to the bit."""
    out = []
    for qid, lat, lon in queries:
        qx, qy, qz = (float(v[0]) for v in ck.latlng_deg_to_xyz(
            np.array([lat]), np.array([lon])))
        dx, dy, dz = xyz[:, 0] - qx, xyz[:, 1] - qy, xyz[:, 2] - qz
        d2 = dx * dx + dy * dy + dz * dz
        cut = np.partition(d2, k - 1)[k - 1]
        idx = np.nonzero(d2 <= cut)[0]
        order = sorted(idx, key=lambda i: (d2[i], urls[i]))[:k]
        out.extend((qid, str(urls[i]), rank + 1)
                   for rank, i in enumerate(order))
    return out


def near_route_rows(pages: PageSet, routes, radius_rad: float):
    """(url, route_id) of pages within `radius_rad` of a route, by the
    point-edge distance kernel over all pages."""
    max_d2 = float(dist.radians_to_chord2(radius_rad))
    out = []
    for rid, line in routes:
        v = line.vertices
        d2 = dist.point_edge_chord2(pages.xyz, v[:-1], v[1:]).min(axis=1)
        out.extend((str(pages.url[i]), rid)
                   for i in np.nonzero(d2 <= max_d2)[0])
    return out


def hot_city_share(pages: PageSet, all_pages: int) -> float:
    """Share of all stored pages inside a hot-city cluster (+-0.01 deg)."""
    hot = np.zeros(len(pages.lat), dtype=bool)
    for lat, lon in CITIES:
        hot |= ((np.abs(pages.lat - lat / 1e6) <= 0.0101) &
                (np.abs(pages.lon - lon / 1e6) <= 0.0101))
    return float(hot.sum()) / all_pages


def hot_cell_skew(pages: PageSet, covering_rows) -> float:
    """Max over median pages per occupied covering cell, for covering rows
    (layer, polygon_id, cell_id, level, range_min, range_max, interior)."""
    ids = np.sort(pages.cell_id)
    counts = np.array([np.searchsorted(ids, hi, "right") -
                       np.searchsorted(ids, lo, "left")
                       for _, _, _, _, lo, hi, _ in covering_rows])
    counts = counts[counts > 0]
    return float(counts.max() / np.median(counts)) if len(counts) else 0.0
