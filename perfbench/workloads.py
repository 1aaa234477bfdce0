"""The benchmark workloads: set-up, a fixed operation list, output checks.

Each workload calls only the package's public functions.  `setup(rep)`
materializes the stored inputs (and, for batch, the prebuilt covering);
`ops(index)` returns the operation list of one pass; `check(index,
results)` compares every operation's digest with an independent path and
returns the names of the operations whose output was wrong.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_kotlin_spark import functions as s2f
from s2_geometry_kotlin_spark.kernel import cellid as ck
from s2_geometry_kotlin_spark.operators import spatial_join as SJ
from s2_geometry_kotlin_spark.operators.components import (
    connected_components, q_dedup_components)
from s2_geometry_kotlin_spark.operators.dedup import q_minhash_lsh_pairs
from s2_geometry_kotlin_spark.operators.knn import knn_points
from s2_geometry_kotlin_spark.operators.routes import pages_near_route
from s2_geometry_kotlin_spark.plans import layout, lineage
from s2_geometry_kotlin_spark.sources import pages as P

import checks
import inputs


@dataclass
class Op:
    """One operation: `run` returns a DataFrame (reduced to a digest inside
    the timed region) or a plain dict of the call's own result.  An
    operation that is not `timed` runs, and is checked, only in the traced
    pass."""
    name: str
    layer: str
    run: Callable[[], object]
    columns: list[str] | None = None
    timed: bool = True


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _geocode(pages: DataFrame) -> DataFrame:
    return (P.geoparse(pages).where(F.col("lat").isNotNull())
            .select("url", "lat", "lon")
            .withColumn("cell_id", s2f.s2_cellid("lat", "lon")))


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, ignoring Spark's marker files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _write_pages(spark, docs: str, path: str, replicate: int,
                 parts: int) -> int:
    """Stored pages table: the documents in `docs` through the engine's
    pages synthesizer, written as parquet to `path`.  Returns its bytes."""
    (P.load_pages(spark, docs, replicate=replicate).repartition(parts)
     .write.mode("overwrite").parquet(path))
    return _dir_bytes(path)[1]


def _leaf_range(cell: int) -> tuple[int, int]:
    """Signed (first, last) leaf ids under a signed cell id."""
    u = cell % (1 << 64)
    return tuple(int(v) for v in ck.to_signed(np.array(
        [ck.sc_range_min(u), ck.sc_range_max(u)], dtype=np.uint64)))


class Workload:
    name = ""
    rows = 0            # input rows behind rows_per_s
    bytes_per_row = 0.0
    shares: dict = {}   # measured shares of the input properties
    LAYERS: tuple = ()  # layer modules whose per-layer metrics it defines
    WARMUP_PASSES = 1   # untimed passes before the timed ones
    PASS_S = 1.0        # nominal timed pass on 4 cores; sets the pass count
    LATENCY_OPS: tuple = ()  # the timed operations op_p50_s covers

    def __init__(self, spark, seed: int, work: str, cpus: int):
        self.spark, self.seed, self.work, self.cpus = spark, seed, work, cpus

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def setup_traced(self) -> None:
        """Traced run only: the inputs of the operations that only the
        traced pass runs."""

    def ops(self, index: int) -> list[Op]:
        raise NotImplementedError

    def check(self, index: int, results: dict) -> set[str]:
        raise NotImplementedError

    def after_pass(self, index: int) -> None:
        """Remove what a pass wrote, so the next pass does the same work."""

    def probes(self, tracer) -> dict:
        """Traced-run only: calls that split fused layers apart."""
        return {}


class Batch(Workload):
    """The stored-table work of one analyst session.  Each timed pass:

    - pages: scan -> geoparse -> cell encode -> verified broadcast join,
      which caches the geocoded frame;
    - layout: the cell-sorted write of that frame and range reads of it.

    The traced pass adds the salted, range and verify="sql" joins and a
    level-8 rollup over the cached frame; a resumable write of the join
    result, then resumed with nothing left to do; and MinHash-LSH pairs
    and their connected components over the same documents stored
    DEDUP_COPIES times each (mirror pages).

    The layer's covering is prebuilt in set-up, so no operation covers.
    op_p50_s is the latency of the range reads, the layout's read side.
    """
    name = "batch"
    LAYERS = ("sources.pages", "functions", "kernel.coverer",
              "operators.spatial_join", "operators.dedup",
              "operators.components", "plans.layout", "plans.lineage")
    PASS_S = 7.0
    N_DOCS, REPLICATE, DEDUP_COPIES = 300, 100, 10
    HOT, WIDE = 4, 1
    LAYOUT_LEVEL = 2
    N_READS = 2
    LATENCY_OPS = tuple(f"range_read_{k}" for k in range(N_READS))

    def setup(self, rep):
        spark = self.spark
        docs = inputs.write_documents(os.path.join(self.work, "docs"),
                                      self.seed, self.N_DOCS)
        self.pages_path = os.path.join(self.work, "pages")
        _write_pages(spark, docs, self.pages_path, self.REPLICATE,
                     2 * self.cpus)
        self.docs_dir = os.path.join(self.work, "mirrors")
        self.layer, self.caps = inputs.polygon_layer(
            self.seed, rep, self.HOT, self.WIDE)
        SJ.build_covering_rows(self.layer)
        SJ.build_range_index(self.layer)
        self.rows = self.N_DOCS * self.REPLICATE
        self.cells = inputs.range_cells(self.seed, self.N_READS)
        self._ref = None

    def setup_traced(self):
        docs = os.path.join(self.work, "docs", "documents.parquet")
        (self.spark.read.parquet(docs)
         .withColumn("copy", F.explode(F.sequence(
             F.lit(0), F.lit(self.DEDUP_COPIES - 1))))
         .withColumn("doc_id", F.col("doc_id") * self.DEDUP_COPIES +
                     F.col("copy"))
         .drop("copy").repartition(self.cpus)
         .write.mode("overwrite")
         .parquet(os.path.join(self.docs_dir, "documents.parquet")))

    def _join(self, strategy="broadcast", verify="kernel"):
        return SJ.spatial_join(self.geo, self.spark, self.layer,
                               strategy=strategy, verify=verify)

    def ops(self, index):
        spark, d = self.spark, self.docs_dir
        self.layout_path = os.path.join(self.work, "layout")
        self.lineage_path = os.path.join(self.work, "lineage")

        def scan_and_join():
            self.geo = _geocode(spark.read.parquet(self.pages_path)).cache()
            return self._join()

        def write_layout():
            layout.write_cell_sorted(self.geo, self.layout_path,
                                     level=self.LAYOUT_LEVEL)
            return {}

        def resumable():
            return lineage.run_resumable(spark, self._join(), "layer",
                                         self.lineage_path, f"j{index}")

        ops = [
            Op("join_broadcast", "operators.spatial_join", scan_and_join),
            Op("join_salted", "operators.spatial_join",
               lambda: self._join("salted"), timed=False),
            Op("join_range", "operators.spatial_join",
               lambda: self._join("range"), timed=False),
            Op("join_sql", "operators.spatial_join",
               lambda: self._join(verify="sql"), timed=False),
            Op("rollup_l8", "functions", lambda: self.geo.groupBy(
                s2f.cell_parent(F.col("cell_id"), 8).alias("cell_l8"))
               .agg(F.count(F.lit(1)).alias("n")), timed=False),
            Op("layout_write", "plans.layout", write_layout),
        ]
        for k, cell in enumerate(self.cells):
            ops.append(Op(f"range_read_{k}", "plans.layout",
                          lambda c=cell: layout.read_cell_range(
                              spark, self.layout_path, c,
                              level=self.LAYOUT_LEVEL),
                          ["url", "lat", "lon", "cell_id"]))
        return ops + [
            Op("lineage_write", "plans.lineage", resumable, timed=False),
            Op("lineage_resume", "plans.lineage", resumable, timed=False),
            Op("minhash_pairs", "operators.dedup",
               lambda: q_minhash_lsh_pairs(spark, d), timed=False),
            Op("components", "operators.components",
               lambda: q_dedup_components(spark, d), timed=False),
        ]

    def _reference(self):
        """Reference digests of the operations over the pages: brute force
        over the collected pages and a plain filter per range read.  Built
        on the first check and reused, since inputs are fixed for the
        run."""
        if self._ref is None:
            spark = self.spark
            pages = checks.PageSet(self.geo.toPandas())
            parents = ck.to_signed(ck.parent(
                pages.cell_id.view(np.uint64), 8))
            ids, counts = np.unique(parents, return_counts=True)
            frames = {
                "join": checks.frame(
                    spark, checks.join_rows(pages, self.layer, self.caps),
                    "url string, layer string, polygon_id long"),
                "rollup_l8": checks.frame(
                    spark, [(int(a), int(b)) for a, b in zip(ids, counts)],
                    "cell_l8 long, n long"),
                "geo": self.geo,
            }
            for k, cell in enumerate(self.cells):
                lo, hi = _leaf_range(cell)
                frames[f"range_read_{k}"] = self.geo.where(
                    (F.col("cell_id") >= lo) & (F.col("cell_id") <= hi))
            self._ref = checks.digest_many(frames)
            self.shares = {
                "hot_city_page_share": checks.hot_city_share(
                    pages, self.N_DOCS * self.REPLICATE),
                "hot_cell_skew": checks.hot_cell_skew(
                    pages, SJ.build_covering_rows(self.layer))}
        return self._ref

    def check(self, index, results):
        ref = self._reference()
        bad = {n for n in ("join_broadcast", "join_salted", "join_range",
                           "join_sql")
               if n in results and results[n] != ref["join"]}
        bad |= {n for n in ref if n in results and results[n] != ref[n]}
        stored = self.spark.read.parquet(self.layout_path)
        if checks.digest(stored, ["url", "lat", "lon", "cell_id"]) != \
                ref["geo"]:
            bad.add("layout_write")
        self.layout_files, self.layout_bytes = _dir_bytes(self.layout_path)
        self.bytes_per_row = self.layout_bytes / ref["geo"][0]
        # the full-corpus dedup paths: no representative election
        for name, op in (("minhash_pairs", q_minhash_lsh_pairs),
                         ("components", q_dedup_components)):
            if name in results and results[name] != checks.digest(
                    op(self.spark, self.docs_dir, via_reps=False)):
                bad.add(name)
        if "lineage_write" in results:
            bad |= self._check_lineage(results, ref)
        return bad

    def _check_lineage(self, results, ref):
        bad = set()
        written = results["lineage_write"]
        out = self.spark.read.parquet(os.path.join(self.lineage_path,
                                                   "data"))
        if written.get("rows") != ref["join"][0] or checks.digest(
                out, ["url", "layer", "polygon_id"]) != ref["join"]:
            bad.add("lineage_write")
        resumed = results["lineage_resume"]
        if resumed.get("written_partitions") != 0 or \
                resumed.get("skipped") != written.get("written_partitions"):
            bad.add("lineage_resume")
        return bad

    def after_pass(self, index):
        self.spark.catalog.clearCache()
        shutil.rmtree(self.layout_path, ignore_errors=True)
        shutil.rmtree(self.lineage_path, ignore_errors=True)

    def probes(self, tracer):
        spark, d = self.spark, self.docs_dir
        pages = spark.read.parquet(self.pages_path)
        with tracer.span("sources.pages", probe="scan"):
            force(pages.select("url", "text"))
        with tracer.span("sources.pages", probe="geoparse"):
            force(P.geoparse(pages).where(F.col("lat").isNotNull())
                  .select("url", "lat", "lon"))
        with tracer.span("functions", probe="cellid"):
            force(_geocode(pages))
        self.geo = _geocode(pages).cache()
        self.geo.count()
        out = {}
        with tracer.span("operators.spatial_join", probe="candidates"):
            out["candidates"] = checks.digest(self._join(verify="none"))[0]
        with tracer.span("operators.spatial_join", probe="verified"):
            out["verified"] = checks.digest(self._join())[0]
        with tracer.span("operators.dedup", probe="candidates"):
            out["dedup_candidates"] = checks.digest(
                q_minhash_lsh_pairs(spark, d, verify=False))[0]
        with tracer.span("operators.dedup", probe="verified"):
            out["pairs"] = checks.digest(
                q_minhash_lsh_pairs(spark, d, via_reps=False))[0]
        pairs = (q_minhash_lsh_pairs(spark, d).select("doc_a", "doc_b")
                 .localCheckpoint(eager=True))
        with tracer.span("operators.components", probe="propagation"):
            force(connected_components(pairs, assume_distinct=True))
        spark.catalog.clearCache()
        return out


class AdhocGeometry(Workload):
    """Cached geocoded pages; every operation brings geometry derived from
    (seed, pass index) that the process has never seen."""
    name = "adhoc_geometry"
    LAYERS = ("kernel.coverer", "operators.spatial_join", "operators.knn",
              "operators.routes")
    # one warm-up pass is not enough here: after one, in nine runs of
    # five timed passes, the first two ran a median 14% slower than the
    # last three
    WARMUP_PASSES = 2
    PASS_S = 6.5
    LATENCY_OPS = ("spatial_join", "knn", "near_route")
    # enough pages that knn_points' density-calibrated first radius (it
    # shrinks as pages grow) stays under the 9 deg that separates a polar
    # query from the +-80 deg page band
    N_DOCS, REPLICATE = 400, 100
    K = 8
    N_QUERIES = 4
    N_ROUTES = 1
    ROUTE_RADIUS_RAD = 50_000.0 / 6371010.0

    def setup(self, rep):
        spark = self.spark
        if rep:
            self.geo.unpersist()
        docs = inputs.write_documents(os.path.join(self.work, "docs"),
                                      self.seed, self.N_DOCS)
        path = os.path.join(self.work, "pages")
        nbytes = _write_pages(spark, docs, path, self.REPLICATE,
                              2 * self.cpus)
        self.bytes_per_row = nbytes / (self.N_DOCS * self.REPLICATE)
        x, y, z = s2f.xyz_cols("lat", "lon")
        self.geo = (_geocode(spark.read.parquet(path))
                    .withColumns({"x": x, "y": y, "z": z}).cache())
        self.rows = self.geo.count()
        self._pages = None

    def ops(self, index):
        spark = self.spark
        key = 1000 + index
        self.layer, self.caps = inputs.polygon_layer(self.seed, key, 2, 1)
        self.queries = inputs.knn_queries(self.seed, key, self.N_QUERIES)
        self.routes = inputs.routes(self.seed, key, self.N_ROUTES)
        self.knn_stats = {}
        geo = self.geo
        return [
            Op("spatial_join", "operators.spatial_join",
               lambda: SJ.spatial_join(geo, spark, self.layer)),
            Op("knn", "operators.knn", lambda: knn_points(
                geo.select("url", "cell_id", "x", "y", "z"), spark,
                self.queries, self.K, n_pages_hint=self.rows,
                stats=self.knn_stats), ["query_id", "url", "rank"]),
            Op("near_route", "operators.routes", lambda: pages_near_route(
                geo, spark, self.routes, self.ROUTE_RADIUS_RAD)),
        ]

    def check(self, index, results):
        if self._pages is None:
            pdf = self.geo.toPandas()
            self._pages = (checks.PageSet(pdf),
                           pdf[["x", "y", "z"]].to_numpy(np.float64))
            self.shares = {"hot_city_page_share": checks.hot_city_share(
                self._pages[0], self.N_DOCS * self.REPLICATE)}
        pages, xyz = self._pages
        spark = self.spark
        want = checks.digest_many({
            "spatial_join": checks.frame(
                spark, checks.join_rows(pages, self.layer, self.caps),
                "url string, layer string, polygon_id long"),
            "knn": checks.frame(
                spark, checks.knn_rows(xyz, pages.url, self.queries, self.K),
                "query_id long, url string, rank long"),
            "near_route": checks.frame(
                spark, checks.near_route_rows(pages, self.routes,
                                              self.ROUTE_RADIUS_RAD),
                "url string, route_id long"),
        })
        return {n for n, d in want.items() if results[n] != d}

    def probes(self, tracer):
        out = {"knn_rounds": self.knn_stats["rounds"]}
        for probe, verify in (("candidates", "none"), ("verified", "kernel")):
            with tracer.span("operators.spatial_join", probe=probe):
                out[probe] = checks.digest(SJ.spatial_join(
                    self.geo, self.spark, self.layer, verify=verify))[0]
        return out


WORKLOADS = {w.name: w for w in (Batch, AdhocGeometry)}
