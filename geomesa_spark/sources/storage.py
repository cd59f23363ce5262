"""Partitioned storage layout + query-window partition pruning.

Re-creates the FileSystem DataStore's partition schemes (the Iceberg-
partition-transform analog) from scratch:

- ``DateTimeScheme`` (geomesa-fs/.../partitions/DateTimeScheme.scala:26-110):
  strftime time buckets with filter -> partition enumeration. Here: a
  ``p_date`` (day) partition column.
- ``Z2Scheme`` (partitions/SpatialScheme.scala:21-49): N-bit SFC prefix as
  the directory name, query geometry -> partition list via the cover. Here:
  a ``p_cell`` column holding the Z2 cell at a coarse resolution.
- ``CompositeScheme``: both, nested (date / cell) — the layout written here.

Spark/parquet prune partition directories from the ``.filter`` on partition
columns natively (dynamic partition pruning included); ``read_pruned`` builds
exactly the filters the reference's ``getSimplifiedFilters`` would — date
range enumeration + cell-prefix IN-list from the polygon cover — so only
matching directories are listed or read. On Iceberg the same columns become
``days(ts), truncate(cell)`` transforms with identical pruning behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core import cells
from ..core.geometry import Geometry, from_wkt

DEFAULT_PART_RES = 6  # 64x64 world grid -> <= 4096 spatial partitions


def with_partition_columns(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    part_res: int = DEFAULT_PART_RES,
) -> DataFrame:
    """Append (p_date, p_cell) partition columns (native exprs, codegen)."""
    return df.withColumn("p_date", F.to_date(F.col(ts))).withColumn(
        "p_cell", F.expr(cells.cell_sql_expr(lon, lat, part_res))
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    part_res: int = DEFAULT_PART_RES,
    mode: str = "overwrite",
) -> None:
    """Write parquet laid out as path/p_date=…/p_cell=…/ (CompositeScheme)."""
    (
        with_partition_columns(df, lon, lat, ts, part_res)
        .write.mode(mode)
        .partitionBy("p_date", "p_cell")
        .parquet(path)
    )


def prune_filters(
    geom: Geometry | str | None = None,
    time_range: tuple[str, str] | None = None,
    part_res: int = DEFAULT_PART_RES,
    max_cells: int = 4096,
):
    """Partition-column predicates for a query window (driver-side planning).

    Returns a Column or None. The cell list is the budgeted quadtree cover
    expanded to ``part_res`` — the exact analog of
    ``SpatialScheme.getSimplifiedFilters`` enumerating covered directories.
    """
    conds = []
    if geom is not None:
        if isinstance(geom, str):
            geom = from_wkt(geom)
        cov = cells.cover_geometry(geom, part_res, max_cells=max_cells)
        cell_list: list[int] = []
        for r, c in cov.cells:
            if r == part_res:
                cell_list.append(int(c))
            else:
                cell_list.extend(int(x) for x in cells.children(c, r, part_res))
        conds.append(F.col("p_cell").isin(sorted(set(cell_list))))
    if time_range is not None:
        t0, t1 = time_range
        conds.append(F.col("p_date").between(F.lit(t0), F.lit(t1)))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def read_pruned(
    spark: SparkSession,
    path: str,
    geom: Geometry | str | None = None,
    time_range: tuple[str, str] | None = None,
    part_res: int = DEFAULT_PART_RES,
) -> DataFrame:
    """Partition-pruned scan: only directories intersecting the query window
    are read. To check pruning, read the scan node's "number of files read"
    SQL metric after an action (Spark UI or event log); ``df.explain()``
    shows the ``PartitionFilters``. ``df.inputFiles()`` does not show it: it
    lists every file of the relation whatever the filter. Row-level
    refinement (exact PIP / exact time bounds) stays the caller's job, as in
    the reference (coarse partitions, fine filters)."""
    df = spark.read.parquet(path)
    flt = prune_filters(geom, time_range, part_res)
    return df if flt is None else df.filter(flt)
