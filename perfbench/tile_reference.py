"""The tile_render reference, run in a child process so that its memory stays
out of the benchmark's ``peak_rss_mb``.

    python3 -m perfbench.tile_reference <table dir> <res> <decode sample> <out.parquet>

Writes the (tile_cell, weight_sum, n) aggregate of ``process_density_split``
over every split of the table, with the city polygons, to ``out.parquet``,
and prints the kernel and decode timings as one JSON line.
"""

from __future__ import annotations

import json
import sys
import time

import pandas as pd
import pyarrow.parquet as pq

from geomesa_spark.functions.image import decode_image
from geomesa_spark.operators.spatial_join import prepare_polygons
from geomesa_spark.sources.parquet_scan import list_row_groups, process_density_split

from . import inputs, oracles


def tile_reference(path: str, res: int, decode_sample: int) -> tuple[pd.DataFrame, dict[str, float]]:
    """-> (aggregate, per-layer timings and counts)."""
    prepared = prepare_polygons(inputs.city_polygons())
    splits = list_row_groups(path)
    process_density_split(splits[0][0], splits[0][1], prepared, res=res)  # first-call imports
    t = time.perf_counter()
    frames = [process_density_split(f, rg, prepared, res=res) for f, rg, _ in splits]
    kernel_s = time.perf_counter() - t
    n_images = sum(n for _, _, n in splits)
    # decode_image over a fixed sample of the table's rows
    tbl = pq.ParquetFile(splits[0][0]).read_row_group(0, columns=["bytes", "fmt", "w", "h"])
    rows = list(zip(*(tbl.column(c).to_pylist() for c in ("bytes", "fmt", "w", "h"))))
    rows = (rows * (decode_sample // max(len(rows), 1) + 1))[:decode_sample]
    t = time.perf_counter()
    for b, f, w, h in rows:
        decode_image(b, f, w, h)
    decode_s = time.perf_counter() - t
    return oracles.tile_aggregate(frames), {
        "sources.parquet_scan.kernel_s_per_1k": kernel_s / n_images * 1000,
        "sources.parquet_scan.tile_rows_out": float(sum(len(f) for f in frames if f is not None)),
        "sources.parquet_scan.splits": float(len(splits)),
        "functions.image.decode_s_per_1k": decode_s / len(rows) * 1000,
    }


if __name__ == "__main__":
    path, res, sample, out = sys.argv[1:]
    agg, layer = tile_reference(path, int(res), int(sample))
    agg.to_parquet(out, index=False)
    print(json.dumps(layer))
