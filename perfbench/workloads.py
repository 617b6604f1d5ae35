"""The three workloads, each written against the engine's public functions.

A workload has a set-up (cache the input, build the layer structures), a
pass (one call per layer, each inside its own span), and an output check.
Each layer call ends with the action that materialises its output: at the
base size the output is collected and compared with the numpy goldens, at
the replicated size it is reduced to an order-insensitive value hash
(sum of Spark's per-row hash, and the row count) that every pass repeats.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from temp_c__bpf_osm_reader_spark.operators import (
    decode,
    indexing,
    knn,
    multimodal,
    skew,
    spatial_join,
)
from temp_c__bpf_osm_reader_spark.plans.lineage import SnapshotPipeline
from temp_c__bpf_osm_reader_spark.sources.blocks import caption_tags

from . import inputs

TILE_RES = 7


def materialise(df, cols: list[str], collect: bool):
    """Run the action behind a layer's output: collect it, or hash it."""
    if collect:
        return df.select(*cols).toPandas().sort_values(cols, ignore_index=True)
    row = df.select(
        F.sum(F.hash(*cols).cast("bigint")).alias("h"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return (int(row["h"] or 0), int(row["n"]))


def rows(out) -> int:
    return len(out) if isinstance(out, pd.DataFrame) else out[1]


def same_frame(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    exp = exp[list(got.columns)].sort_values(list(got.columns), ignore_index=True)
    got = got.astype(exp.dtypes.to_dict())
    return got.equals(exp)


def expected_tiles(golden_geo: pd.DataFrame) -> pd.DataFrame:
    g = golden_geo.sort_values(["cell_r7", "image_id"], ignore_index=True)
    return pd.DataFrame(
        {
            "cell_id": g["cell_r7"],
            "image_id": g["image_id"],
            "order_": g.groupby("cell_r7").cumcount() + 1,
        }
    )


class Workload:
    """Shared set-up: the base table cached, the replicated table cached."""

    calls = 0  # layer calls per pass
    pass_s = 1.0  # nominal wall time of one warm pass on a 4-core host

    def __init__(self, spark, meta: dict, work_dir: str):
        self.spark = spark
        self.meta = meta
        self.paths = meta["paths"]
        self.work_dir = work_dir
        self.parts = spark.sparkContext.defaultParallelism * 2
        self.reps = meta["replicate"]

    @property
    def items(self) -> int:
        """Work items of one pass, for items_per_s."""
        return self.meta["points"]["replicated"]

    def _images(self, path: str, reps: int):
        """The (image_id, phash) table replicated reps times, cached."""
        df = self.spark.read.parquet(path).select("image_id", "phash")
        if reps > 1:
            r = self.spark.range(reps).select(F.col("id").alias("rep"))
            df = df.repartition(self.parts).crossJoin(r).select(
                F.concat_ws("#", "image_id", "rep").alias("image_id"), "phash"
            )
        df = df.cache()
        df.count()
        return df

    def cache_inputs(self) -> None:
        # the base table feeds only the one golden-checked pass: not cached
        self.base = self.spark.read.parquet(self.paths["images"]).select("image_id", "phash")
        self.rep = self._images(self.paths["images"], self.reps)

    def layer_setup(self) -> dict:
        """Build the layer structures; seconds per part (0 for parts unused)."""
        return {"indexing.bounds_s": 0.0, "spatial_join.cover_s": 0.0}

    def check_base(self, out: dict) -> list[str]:
        """Names of the base-size outputs that differ from the goldens."""
        raise NotImplementedError

    def check_pass(self, out: dict) -> list[str]:
        """Names of the checks, beyond the output hashes, a pass failed."""
        return []

    def run_pass(self, tracer, parent, base: bool) -> dict:
        raise NotImplementedError


class TilePip(Workload):
    """geolocate → tile assignment → PIP join → salted per-cell counts."""

    calls = 3
    pass_s = 2.5

    def layer_setup(self) -> dict:
        t0 = time.perf_counter()
        bounds = indexing.sample_cell_bounds(
            self.paths["images"], self.parts, res=TILE_RES, id_suffix="#0"
        )
        self.router = indexing.CellRouter(self.spark, bounds, self.parts, res=TILE_RES)
        t1 = time.perf_counter()
        self.polys = pd.read_parquet(self.paths["polygons"])
        self.cover = spatial_join.polygon_cover(self.spark, self.polys, spatial_join.PIP_RES)
        self.edges = spatial_join._polygon_edges(self.spark, self.polys)
        t2 = time.perf_counter()
        return {"indexing.bounds_s": t1 - t0, "spatial_join.cover_s": t2 - t1}

    def run_pass(self, tracer, parent, base: bool) -> dict:
        images = self.base if base else self.rep
        out = {}
        with tracer.span("indexing", parent):
            pts = indexing.geolocate_expr(images).select("image_id", "lat", "lon")
            tiles, rp = indexing.tile_assignment_scalable(
                pts, TILE_RES, partitions=self.parts, keep_cols=("lat", "lon"),
                return_rp=True, router=self.router,
            )
            out["tiles"] = materialise(tiles, ["cell_id", "image_id", "order_"], base)
        try:
            with tracer.span("spatial_join", parent) as s:
                pip = spatial_join.pip_join(
                    rp.select("image_id", "lat", "lon"), self.polys,
                    res=spatial_join.PIP_RES, cover=self.cover, edges=self.edges,
                )
                out["pip"] = materialise(pip, ["image_id", "polygon_id"], base)
                s["counts"]["rows"] = rows(out["pip"])
            with tracer.span("skew", parent):
                cells = skew.salted_group_count(rp, "cell_id")
                out["cells"] = materialise(cells, ["cell_id", "n"], base)
        finally:
            rp.unpersist()
        return out

    def check_base(self, out: dict) -> list[str]:
        geo = pd.read_parquet(self.paths["golden_geo"])
        cells = geo.groupby("cell_r7").size().rename("n").reset_index()
        exp = {
            "tiles": expected_tiles(geo),
            "pip": pd.read_parquet(self.paths["golden_pip"]),
            "cells": cells.rename(columns={"cell_r7": "cell_id"}),
        }
        return [k for k in exp if not same_frame(out[k], exp[k])]


class KnnDense(Workload):
    """Cell column over the points, then the ring-2 kNN join, 1 % as queries."""

    calls = 2
    pass_s = 2.0

    @property
    def items(self) -> int:
        return self.n_queries

    def cache_inputs(self) -> None:
        super().cache_inputs()
        base_ids = pd.read_parquet(self.paths["images"], columns=["image_id"])["image_id"]
        self.n_queries = int((base_ids.str[4:].astype(int) % 100 == 0).sum()) * self.reps

    def run_pass(self, tracer, parent, base: bool) -> dict:
        images = self.base if base else self.rep
        out = {}
        with tracer.span("indexing", parent):
            pts = indexing.geolocate_expr(images).select("image_id", "lat", "lon")
            pts = pts.withColumn(
                "cell_r7", indexing.grid_cell_col(F.col("lat"), F.col("lon"), knn.KNN_RES)
            ).cache()
            out["cells"] = materialise(pts, ["image_id", "cell_r7"], base)
        try:
            with tracer.span("knn", parent) as s:
                points = pts.select("image_id", "lat", "lon")
                ordinal = F.regexp_extract("image_id", r"img_(\d+)", 1).cast("long")
                queries = points.filter(ordinal % 100 == 0)
                nn = knn.knn_join(points, queries)
                out["knn"] = materialise(
                    nn, ["query_image_id", "neighbor_image_id", "rank", "dist_m"], base
                )
                s["counts"]["queries"] = self.n_queries // self.reps if base else self.n_queries
        finally:
            pts.unpersist()
        return out

    def check_base(self, out: dict) -> list[str]:
        geo = pd.read_parquet(self.paths["golden_geo"])
        exp = {
            "cells": geo[["image_id", "cell_r7"]],
            "knn": pd.read_parquet(self.paths["golden_knn"]),
        }
        return [k for k in exp if not same_frame(out[k], exp[k])]


NODE_COLS = ["block_id", "pos", "id", "image_id", "lat", "lon"]
METRIC_COLS = [
    "image_id", "fmt", "pix_sum", "phash_dec", "lap_sq_sum", "lap_abs_sum", "n_interior",
]
TILE_COLS = ["cell_id", "image_id", "order_"]


def tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) under root."""
    size = files = 0
    for d, _, names in os.walk(root):
        for f in names:
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


class IngestCommit(Workload):
    """decode → image metrics → tiles → commit of the tile table → resume
    from the committed root, serve the stage and verify it. Runs at the base
    size, so every pass reads the same inputs; only the base pass collects."""

    calls = 6
    pass_s = 5.0
    _commits = 0

    def cache_inputs(self) -> None:
        self.base = self.rep = self._images(self.paths["images"], 1)
        self.blocks = decode.widen_if_narrow(self.spark.read.parquet(self.paths["blocks"])).cache()
        self.blocks.count()
        self.sf = inputs.sf_dir(self.meta["points"]["base"])
        self.input_bytes = self.meta["bytes"]["images"] + self.meta["bytes"]["blocks"]

    def layer_setup(self) -> dict:
        t0 = time.perf_counter()
        bounds = indexing.sample_cell_bounds(self.paths["images"], self.parts, res=TILE_RES)
        self.router = indexing.CellRouter(self.spark, bounds, self.parts, res=TILE_RES)
        return {**super().layer_setup(), "indexing.bounds_s": time.perf_counter() - t0}

    def run_pass(self, tracer, parent, base: bool) -> dict:
        out, cached = {}, []
        try:
            self._pass(tracer, parent, base, out, cached)
        finally:
            for df in cached:
                df.unpersist()
        return out

    def _pass(self, tracer, parent, base, out, cached) -> None:
        with tracer.span("decode", parent) as s:
            nodes, tags = decode.decode_entities(self.blocks)
            out["nodes"] = materialise(nodes, NODE_COLS, base)
            out["tags"] = materialise(tags, ["image_id", "k", "v"], base)
            s["counts"]["rows"] = rows(out["nodes"]) + rows(out["tags"])
        with tracer.span("multimodal", parent):
            metrics = multimodal.image_metrics(self.spark, self.sf)
            out["image_metrics"] = materialise(metrics, METRIC_COLS, base)
            feats = multimodal.block_features_flat(self.spark, self.sf)
            out["features"] = materialise(feats, ["image_id", "feat_idx", "value"], base)
        with tracer.span("indexing", parent):
            pts = indexing.geolocate_expr(self.rep).select("image_id", "lat", "lon")
            tiles, rp = indexing.tile_assignment_scalable(
                pts, TILE_RES, partitions=self.parts, return_rp=True, router=self.router
            )
            tiles = tiles.cache()
            cached += [rp, tiles]
            out["tiles"] = materialise(tiles, TILE_COLS, base)
        self._commits += 1
        root = os.path.join(self.work_dir, f"snap-{self._commits}")
        shutil.rmtree(root, ignore_errors=True)
        try:
            with tracer.span("lineage.commit", parent) as s:
                SnapshotPipeline(self.spark, root).run_stage("tiles", lambda: tiles)
                s["counts"]["bytes"], s["counts"]["files"] = tree_size(root)
            out["write_amp"] = s["counts"]["bytes"] / self.input_bytes
            with tracer.span("lineage.resume", parent):
                sp = SnapshotPipeline(self.spark, root)
                served = materialise(sp.run_stage("tiles", _not_recomputed), TILE_COLS, base)
                manifest = sp.manifest("tiles")
            with tracer.span("lineage.verify", parent):
                out["verified"] = sp.verify_stage("tiles")
        finally:
            shutil.rmtree(root, ignore_errors=True)
        out["resume_matches"] = manifest["rows"] == rows(out["tiles"]) and (
            same_frame(served, out["tiles"]) if base else served == out["tiles"]
        )

    def check_base(self, out: dict) -> list[str]:
        geo = pd.read_parquet(self.paths["golden_geo"])
        images = pd.read_parquet(self.paths["images"], columns=["image_id", "caption", "w", "h"])
        ordinal = np.arange(len(geo), dtype=np.int64)
        scale = 10_000_000
        nodes = pd.DataFrame(
            {
                "block_id": ordinal // 1000,
                "pos": (ordinal % 1000).astype(np.int32),
                "id": ordinal,
                "image_id": geo["image_id"],
                "lat": np.round(geo["lat"].to_numpy() * scale).astype(np.int64) / scale,
                "lon": np.round(geo["lon"].to_numpy() * scale).astype(np.int64) / scale,
            }
        )
        tags = pd.DataFrame(
            [(i, k, v) for i, c in zip(images["image_id"], images["caption"]) for k, v in caption_tags(c)],
            columns=["image_id", "k", "v"],
        )
        metrics = pd.read_parquet(self.paths["golden_decode"]).merge(
            pd.read_parquet(self.paths["golden_laplacian"]), on="image_id"
        )
        exp = {"nodes": nodes, "tags": tags, "image_metrics": metrics, "tiles": expected_tiles(geo)}
        bad = [k for k in exp if not same_frame(out[k], exp[k])]
        # every block mean times its block area is an exact integer block sum,
        # so the 16 block sums of an image add up to its golden pixel sum
        f = out["features"].merge(images, on="image_id")
        f["s"] = np.round(f["value"] * (f["w"] // 4) * (f["h"] // 4)).astype(np.int64)
        got = f.groupby("image_id")["s"].sum()
        want = metrics.set_index("image_id")["pix_sum"]
        if len(f) != 16 * len(images) or not got.sort_index().equals(want.sort_index()):
            bad.append("features")
        return bad + self.check_pass(out)

    def check_pass(self, out: dict) -> list[str]:
        """The committed tile stage verifies and is served back unchanged."""
        return [k for k in ("verified", "resume_matches") if not out[k]]


def _not_recomputed():
    raise RuntimeError("a committed stage was recomputed instead of served")


WORKLOADS = {"tile_pip": TilePip, "knn_dense": KnnDense, "ingest_commit": IngestCommit}
