"""Seeded inputs for the benchmark, written before any timing starts.

Everything here is a pure function of (workload, seed). The engine's own
generators make the data (`sources.images.generate_images`,
`sources.polygons.generate_polygons`, `sources.blocks.encode_blocks`), and
the engine's independent numpy golden builders (`sources.fixtures`,
`sources.fixtures_text`) compute the expected base-size outputs from it.
Both read and write `fixtures.DATA_DIR`, which the caller points at the
seed's own directory through SPARK_GRAFT_DATA_DIR before the package is
imported.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict

import numpy as np

# Base table: REGIONS[workload] independent generate_images() draws of
# REGION_N images each, concatenated and renumbered. One draw puts ~1/3 of its
# rows into the pocket of its Zipf-head pattern, so a single draw makes the
# cost of a run depend on where one pocket lands; several draws keep the Zipf
# skew inside each region while the total work varies less between seeds.
# kNN cost grows with the square of the points in a cell, so knn_dense
# averages over twice as many draws.
REGIONS = {"tile_pip": 8, "knn_dense": 16, "ingest_commit": 8}
REGION_N = 265  # 8 draws = 2,120 images = sf0.002 on the fixture ladder

# Replication factor per workload: replica r of image i keeps its phash
# (same pocket, same duplicate structure) and gets image_id "<id>#<r>".
# ingest_commit runs at the base size: its payload files are read by the
# engine's own multimodal functions, and its cost is per Spark job.
REPLICATE = {"tile_pip": 48, "knn_dense": 24, "ingest_commit": 1}


def base_n(workload: str) -> int:
    return REGIONS[workload] * REGION_N


def sf_dir(n: int) -> str:
    """The fixture-ladder name whose image count is n (n a multiple of 1060)."""
    from temp_c__bpf_osm_reader_spark.sources import fixtures

    name = f"sf{n // 1060 / 1000!r}"
    if fixtures.n_images_for_sf(name) != n:
        raise ValueError(f"n={n} is not on the sf ladder (a multiple of 1060)")
    return name


def _write_images(path: str, df) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from temp_c__bpf_osm_reader_spark.sources import fixtures

    table = pa.Table.from_pandas(df, schema=fixtures._IMAGES_SCHEMA, preserve_index=False)
    pq.write_table(table, path, row_group_size=8192)


def base_images(seed: int, regions: int):
    """`regions` seeded generate_images draws → one renumbered pandas table."""
    import pandas as pd

    from temp_c__bpf_osm_reader_spark.sources.images import generate_images

    parts = [
        generate_images(REGION_N, seed=seed * regions + r) for r in range(regions)
    ]
    df = pd.concat(parts, ignore_index=True)
    df["image_id"] = [f"img_{k:07d}" for k in range(len(df))]
    return df


def replicated_ids(base_ids, reps: int) -> list[str]:
    """The ids of the table a workload runs on: the base ids, or for reps > 1
    Spark's concat_ws('#', image_id, rep) over base × range(reps)."""
    if reps == 1:
        return list(base_ids)
    return [f"{i}#{r}" for i in base_ids for r in range(reps)]


def density(phash: np.ndarray, ids: list[str]) -> dict:
    """Points in the fullest and the p99 res-7 cell of the given point set."""
    from temp_c__bpf_osm_reader_spark.functions import geo

    lat, lon = geo.latlon_from_phash(phash, ids)
    _, counts = np.unique(geo.grid_cell(lat, lon, 7), return_counts=True)
    return {
        "cells_r7": int(counts.size),
        "max_cell_points": int(counts.max()),
        "p99_cell_points": int(np.percentile(counts, 99, method="higher")),
    }


def column_bytes(path: str) -> tuple[int, dict]:
    """Row count and compressed bytes per top-level column of a parquet file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    sizes = defaultdict(int)
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            sizes[col.path_in_schema.split(".")[0]] += col.total_compressed_size
    return md.num_rows, dict(sizes)


def prepare(workload: str, seed: int, data_dir: str) -> dict:
    """Generate (or reuse) the seed's inputs and goldens; return their record.

    data_dir belongs to this (workload, seed) alone. It is reused only when
    its meta.json exists, which is written last; otherwise it is wiped, so a
    run killed during generation leaves nothing a later run would trust.
    """
    from temp_c__bpf_osm_reader_spark.sources import fixtures, fixtures_text
    from temp_c__bpf_osm_reader_spark.sources.polygons import generate_polygons

    if os.path.abspath(fixtures.DATA_DIR) != os.path.abspath(data_dir):
        raise RuntimeError("SPARK_GRAFT_DATA_DIR must be set before the package is imported")
    meta_path = os.path.join(data_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["reused"] = True
        return meta

    t0 = time.time()
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    n, reps = base_n(workload), REPLICATE[workload]
    m = fixtures.n_polygons_for(n)
    _write_images(fixtures.images_path(n), base_images(seed, REGIONS[workload]))
    images = fixtures.images_path(n)
    paths = {"images": images, "golden_geo": fixtures.ensure_golden_geo(n)}
    import pandas as pd

    base = pd.read_parquet(images, columns=["image_id", "phash"])
    ids = replicated_ids(base["image_id"].tolist(), reps)
    points = {
        "base": n,
        "replicated": n * reps,
        **density(np.repeat(base["phash"].to_numpy(), reps), ids),
    }
    if workload == "tile_pip":
        import pyarrow as pa
        import pyarrow.parquet as pq

        polys = generate_polygons(m, seed=seed)
        pq.write_table(pa.Table.from_pandas(polys, preserve_index=False), fixtures.polygons_path(m))
        paths["polygons"] = fixtures.polygons_path(m)
        paths["golden_pip"] = fixtures.ensure_golden_pip(n, m)
    elif workload == "knn_dense":
        paths["golden_knn"] = fixtures.ensure_golden_knn(n)
    elif workload == "ingest_commit":
        paths["blocks"] = fixtures.ensure_blocks(n)
        paths["golden_decode"] = fixtures_text.ensure_golden_decode(n)
        paths["golden_laplacian"] = fixtures_text.ensure_golden_laplacian(n)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    meta = {
        "workload": workload,
        "seed": seed,
        "regions": REGIONS[workload],
        "replicate": reps,
        "polygons": m if workload == "tile_pip" else 0,
        "points": points,
        "bytes": {k: os.path.getsize(p) for k, p in paths.items()},
        "paths": paths,
        "generation_s": time.time() - t0,
        "reused": False,
    }
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return meta


def prune(data_root: str, keep: str, max_dirs: int = 4) -> None:
    """Keep at most max_dirs input directories: the newest, and `keep`."""
    if not os.path.isdir(data_root):
        return
    dirs = sorted(
        (os.path.join(data_root, d) for d in os.listdir(data_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[max_dirs:]:
        if os.path.abspath(d) != os.path.abspath(keep):
            shutil.rmtree(d, ignore_errors=True)
