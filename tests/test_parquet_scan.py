"""Arrow parquet scan + fused density scan: parity with the unfused
DataFrame pipeline (spatial_join |> tile_assignments)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geomesa_spark.core import cells
from geomesa_spark.functions.image import decode_image
from geomesa_spark.operators.raster import tile_assignments
from geomesa_spark.operators.spatial_join import prepare_polygons, spatial_join
from geomesa_spark.sources.images import images_df
from geomesa_spark.sources.parquet_scan import (
    GRAY_B,
    GRAY_G,
    GRAY_R,
    density_scan,
    list_row_groups,
    process_density_split,
    scan_parquet_arrow,
)

POLYS = {
    "nyc": "POLYGON((-74.6 40.2, -73.4 40.2, -73.4 41.2, -74.6 41.2, -74.6 40.2))",
    "pent": "POLYGON((1.9 48.4, 2.8 48.2, 3.1 49.2, 2.2 49.7, 1.6 49.1, 1.9 48.4))",
}


@pytest.fixture(scope="module")
def img_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("imgs") / "images.parquet")
    images_df(spark, 800, partitions=4).write.mode("overwrite").parquet(path)
    return path


def test_scan_matches_jvm_reader(spark, img_parquet):
    a = scan_parquet_arrow(spark, img_parquet).toPandas()
    b = spark.read.parquet(img_parquet).toPandas()
    a = a.sort_values("image_id").reset_index(drop=True)
    b = b.sort_values("image_id").reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) == 800
    assert (a["image_id"] == b["image_id"]).all()
    assert (a["phash"] == b["phash"]).all()
    assert all(bytes(x) == bytes(y) for x, y in zip(a["bytes"], b["bytes"]))
    np.testing.assert_allclose(a["lon"], b["lon"])


def test_column_pruned_scan(spark, img_parquet):
    slim = scan_parquet_arrow(spark, img_parquet, columns=["image_id", "lon", "lat"])
    assert slim.columns == ["image_id", "lon", "lat"]
    assert slim.count() == 800


def test_row_group_listing(img_parquet):
    splits = list_row_groups(img_parquet)
    assert sum(n for _, _, n in splits) == 800


def test_density_scan_parity_with_unfused(spark, img_parquet):
    fused = density_scan(spark, img_parquet, POLYS, res=14, pixel_pitch_deg=1e-4).toPandas()

    imgs = spark.read.parquet(img_parquet)
    joined = spatial_join(imgs, POLYS)
    tiles = tile_assignments(joined, res=14, pixel_pitch_deg=1e-4)
    unfused = (
        tiles.join(joined.select("image_id", "poly_id"), "image_id")
        .select("image_id", "poly_id", "tile_cell", "weight")
        .toPandas()
    )
    key = ["image_id", "poly_id", "tile_cell"]
    f = fused.sort_values(key).reset_index(drop=True)
    u = unfused.sort_values(key).reset_index(drop=True)
    assert len(f) == len(u)
    assert (f[key].to_numpy() == u[key].to_numpy()).all()
    np.testing.assert_allclose(f["weight"], u["weight"], rtol=1e-9)


def test_density_scan_aggregates(spark, img_parquet):
    agg = (
        density_scan(spark, img_parquet, POLYS, res=14, pixel_pitch_deg=1e-4)
        .groupBy("poly_id")
        .agg(F.countDistinct("image_id").alias("n"))
        .toPandas()
        .set_index("poly_id")["n"]
    )
    # deterministic generator: both city clusters must be populated
    assert agg.get("nyc", 0) > 0
    assert agg.get("pent", 0) > 0


def _tiles_encoded_per_image(row, res, pitch):
    """One image's tiles with its own two Morton encodes: the per-image
    form the kernel's batched encode must reproduce bit for bit."""
    n = np.int64(1) << np.int64(res)
    arr = decode_image(row.bytes, row.fmt, int(row.w), int(row.h))
    gray = (arr[..., 0] * GRAY_R + arr[..., 1] * GRAY_G + arr[..., 2] * GRAY_B) / 255.0
    h, w = gray.shape
    xi = np.floor((row.lon + np.arange(w) * pitch + 180.0) * n / 360.0).astype(np.int64)
    yi = np.floor((row.lat - np.arange(h) * pitch + 90.0) * n / 180.0).astype(np.int64)
    np.clip(xi, 0, n - 1, out=xi)
    np.clip(yi, 0, n - 1, out=yi)
    cs = np.concatenate(([0], np.flatnonzero(np.diff(xi)) + 1))
    rs = np.concatenate(([0], np.flatnonzero(np.diff(yi)) + 1))
    blocks = np.add.reduceat(np.add.reduceat(gray, rs, axis=0), cs, axis=1)
    cx = cells.encode_xy(xi[cs], np.zeros(len(cs), dtype=np.int64))
    cy = cells.encode_xy(np.zeros(len(rs), dtype=np.int64), yi[rs])
    return (cy[:, None] | cx[None, :]).ravel(), blocks.ravel()


def test_density_kernel_equals_per_image_encode(img_parquet):
    """The kernel Morton-encodes a whole row group's tiles in two calls;
    every (image, polygon) it emits must carry exactly the tiles and
    weights of the per-image encode."""
    prepared = prepare_polygons(POLYS)
    key = ["image_id", "poly_id", "tile_cell"]
    checked = 0
    for file, rg, _ in list_row_groups(img_parquet):
        got = process_density_split(file, rg, prepared, res=14, pixel_pitch_deg=1e-4)
        if got is None:
            continue
        rows = pq.ParquetFile(file).read_row_group(rg).to_pandas().set_index("image_id")
        parts = []
        for img_id, pid in got[["image_id", "poly_id"]].drop_duplicates().itertuples(index=False):
            tc, tw = _tiles_encoded_per_image(rows.loc[img_id], 14, 1e-4)
            parts.append(pd.DataFrame(
                {"image_id": img_id, "poly_id": pid, "tile_cell": tc, "weight": tw}
            ))
        want = pd.concat(parts).sort_values(key).reset_index(drop=True)
        got = got.sort_values(key).reset_index(drop=True)
        assert len(got) == len(want)
        assert (got[key].to_numpy() == want[key].to_numpy()).all()
        assert (got["weight"].to_numpy() == want["weight"].to_numpy()).all()
        checked += len(parts)
    assert checked > 0
