"""Partitioned storage (date/cell scheme + pruning) and export sinks."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from geomesa_spark.sources.exports import (
    bin_records,
    decode_bin,
    export,
    export_arrow_ipc,
)
from geomesa_spark.sources.storage import prune_filters, read_pruned, write_partitioned


@pytest.fixture(scope="module")
def pts_df(spark):
    rng = np.random.default_rng(11)
    n = 2000
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(-180, 180, n),
            "lat": rng.uniform(-85, 85, n),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 20 * 86400, n), unit="s"),
        }
    )
    return spark.createDataFrame(pdf)


BOX = "POLYGON((0 0, 40 0, 40 40, 0 40, 0 0))"


def test_partitioned_write_and_prune(spark, pts_df, tmp_path):
    path = str(tmp_path / "store")
    write_partitioned(pts_df, path)

    full = spark.read.parquet(path)
    pruned = read_pruned(spark, path, geom=BOX, time_range=("2024-01-03", "2024-01-08"))

    # pruning must actually reduce the files READ at execution time
    n_full = full.select(F.input_file_name()).distinct().count()
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert n_pruned < n_full / 4

    # and must not lose any matching row (coarse partitions are a superset)
    exact = full.filter(
        (F.col("lon") >= 0) & (F.col("lon") <= 40)
        & (F.col("lat") >= 0) & (F.col("lat") <= 40)
        & (F.col("p_date") >= "2024-01-03") & (F.col("p_date") <= "2024-01-08")
    )
    refined = pruned.filter(
        (F.col("lon") >= 0) & (F.col("lon") <= 40)
        & (F.col("lat") >= 0) & (F.col("lat") <= 40)
    )
    got = {r.pid for r in refined.select("pid").collect()}
    want = {r.pid for r in exact.select("pid").collect()}
    assert got == want and len(want) > 0


CLUSTER_DAYS = 40  # more p_date dirs than Spark lists on the driver (32)
NULL_DATE = "__HIVE_DEFAULT_PARTITION__"


def _clustered_points(spark):
    """400 points over lon/lat 0..40 and 40 days: ~10 leaf dirs per day.
    One more point, alone at (-100, -40), has no timestamp, so the store
    also holds the null partition ``p_date=__HIVE_DEFAULT_PARTITION__``."""
    rng = np.random.default_rng(5)
    n = 400
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n + 1),
            "lon": rng.uniform(0, 40, n + 1),
            "lat": rng.uniform(0, 40, n + 1),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, CLUSTER_DAYS * 86400, n + 1), unit="s"),
        }
    )
    pdf.loc[n, ["lon", "lat"]] = (-100.0, -40.0)
    return spark.createDataFrame(pdf).withColumn("ts", F.when(F.col("pid") < n, F.col("ts")))


@pytest.fixture(scope="module")
def cluster_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cluster") / "store")
    write_partitioned(_clustered_points(spark), path)
    return path


def _files_under(dirs) -> set[str]:
    return {
        os.path.join(root, f)
        for d in dirs
        for root, _, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    }


def _local(uri: str) -> str:
    return unquote(urlparse(uri).path)


WINDOW_BOX = "POLYGON((10 10, 25 10, 25 25, 10 25, 10 10))"
WIDE_BOX = "POLYGON((0 0, 30 0, 30 30, 0 30, 0 0))"

# (id, geom, time_range, what read_pruned reads)
PRUNE_WINDOWS = [
    ("window", WINDOW_BOX, ("2024-01-03", "2024-01-08"), "leaves"),
    ("ocean", "POLYGON((-150 -40, -140 -40, -140 -30, -150 -30, -150 -40))",
     ("2024-01-03", "2024-01-08"), "one_leaf"),
    ("dates_outside", WINDOW_BOX, ("2025-03-01", "2025-03-05"), "one_leaf"),
    ("geometry_only", "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))", None, "leaves"),
    ("time_only", None, ("2024-01-10", "2024-01-10"), "leaves"),
    ("timestamp_strings", WINDOW_BOX, ("2024-01-03 12:00:00", "2024-01-08 06:00:00"), "leaves"),
    # the null-ts point alone: its null-date leaf plus one leaf of a real day
    ("null_date_only", "POLYGON((-101 -41, -99 -41, -99 -39, -101 -39, -101 -41))", None,
     "leaves_and_one"),
    # more matching leaves than Spark lists on the driver: the in-range days
    ("wide", WIDE_BOX, ("2024-01-01", "2024-01-12"), "days"),
    ("wide_geometry_only", WIDE_BOX, None, "store"),
]


@pytest.mark.parametrize(
    "geom,time_range,reads", [w[1:] for w in PRUNE_WINDOWS], ids=[w[0] for w in PRUNE_WINDOWS]
)
def test_read_pruned_matches_whole_store_read(spark, cluster_store, geom, time_range, reads):
    """Listing only the window's dirs changes neither the rows nor the schema
    of the whole-store read plus the partition filter, and inputFiles() shows
    the pruning."""
    ref = spark.read.parquet(cluster_store).filter(prune_filters(geom, time_range))
    got = read_pruned(spark, cluster_store, geom=geom, time_range=time_range)

    assert got.schema == ref.schema
    ref_rows = ref.select("pid", "p_date", "p_cell").collect()
    assert sorted(r.pid for r in got.select("pid").collect()) == sorted(r.pid for r in ref_rows)

    store_files = _files_under([cluster_store])
    leaves = {
        os.path.join(cluster_store, f"p_date={r.p_date or NULL_DATE}", f"p_cell={r.p_cell}")
        for r in ref_rows
    }
    read = {_local(f) for f in got.inputFiles()}
    assert read <= store_files
    if reads == "leaves":
        assert leaves and read == _files_under(leaves)
        assert len(read) < len(store_files)
    elif reads == "leaves_and_one":
        assert leaves and _files_under(leaves) < read
        assert len({os.path.dirname(f) for f in read - _files_under(leaves)}) == 1
    elif reads == "one_leaf":
        assert not ref_rows
        assert len({os.path.dirname(f) for f in read}) == 1
    elif reads == "days":
        t0, t1 = time_range
        days = [d for d in os.listdir(cluster_store) if d.startswith("p_date=") and t0 <= d[7:] <= t1]
        assert len(leaves) > 32 and read == _files_under(os.path.join(cluster_store, d) for d in days)
        assert len(read) < len(store_files)
    else:
        assert len(leaves) > 32 and read == store_files


def test_read_pruned_reads_leaves_of_a_day_of_many_cells(spark, tmp_path):
    """More than 32 leaves in a day of more than 32 cells: Spark would list
    that day's cells in a job of one task per cell, so the leaves are read
    rather than the day."""
    rng = np.random.default_rng(7)
    n = 300
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(0, 90, n),
            "lat": rng.uniform(0, 80, n),
            "ts": pd.Timestamp("2024-02-01") + pd.to_timedelta(rng.integers(0, 86400, n), unit="s"),
        }
    )
    path = str(tmp_path / "store")
    write_partitioned(spark.createDataFrame(pdf), path)
    window = dict(geom="POLYGON((0 0, 45 0, 45 40, 0 40, 0 0))", time_range=("2024-02-01", "2024-02-01"))
    ref = spark.read.parquet(path).filter(prune_filters(**window))
    got = read_pruned(spark, path, **window)

    assert got.schema == ref.schema
    ref_rows = ref.select("pid", "p_cell").collect()
    assert sorted(r.pid for r in got.select("pid").collect()) == sorted(r.pid for r in ref_rows)
    day = os.path.join(path, "p_date=2024-02-01")
    leaves = {os.path.join(day, f"p_cell={r.p_cell}") for r in ref_rows}
    assert len(leaves) > 32 and len(os.listdir(day)) > len(leaves)
    assert {_local(f) for f in got.inputFiles()} == _files_under(leaves)


def test_read_pruned_part_res_16_reads_whole_store(spark, tmp_path):
    """Past 2**31 cell ids Spark types p_cell bigint; a leaf of a small id
    alone would type it int. So such stores are read whole."""
    pdf = pd.DataFrame(
        {
            "pid": [0, 1],
            "lon": [-170.0, 170.0],
            "lat": [-80.0, 80.0],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-01"]),
        }
    )
    path = str(tmp_path / "store")
    write_partitioned(spark.createDataFrame(pdf), path, part_res=16)
    window = dict(
        geom="POLYGON((-170.01 -80.01, -169.99 -80.01, -169.99 -79.99, -170.01 -79.99, -170.01 -80.01))",
        time_range=("2024-01-01", "2024-01-01"),
        part_res=16,
    )
    ref = spark.read.parquet(path).filter(prune_filters(**window))
    got = read_pruned(spark, path, **window)
    assert got.schema == ref.schema and dict(got.dtypes)["p_cell"] == "bigint"
    assert [r.pid for r in got.select("pid").collect()] == [0]


def test_read_pruned_reads_a_glob_path_whole(spark, cluster_store):
    """A path that is no directory, such as a glob, goes to Spark's reader
    as it is, as before."""
    window = dict(geom=WINDOW_BOX, time_range=("2024-01-03", "2024-01-08"))
    want = sorted(r.pid for r in read_pruned(spark, cluster_store, **window).select("pid").collect())
    got = read_pruned(spark, cluster_store[:-1] + "*", **window)
    assert sorted(r.pid for r in got.select("pid").collect()) == want and want


def _task_counts(spark, group: str, build) -> list[int]:
    """Task count of every stage of every job that ``build()`` starts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    ]


def test_read_pruned_starts_no_listing_job(spark, cluster_store, tmp_path):
    """With more than 32 p_date dirs, Spark lists a whole store in a job of
    one task per dir; read_pruned lists on the driver, so building its
    DataFrame starts at most the one-task schema-inference job, also for a
    window of more than 32 leaves over fewer days. The same holds under a
    store path that Spark's reader would take for a glob."""
    window = dict(geom=WINDOW_BOX, time_range=("2024-01-03", "2024-01-08"))
    wide = dict(geom=WIDE_BOX, time_range=("2024-01-01", "2024-01-12"))
    assert max(_task_counts(spark, "whole-store", lambda: spark.read.parquet(cluster_store))) > 1
    assert max(_task_counts(spark, "pruned", lambda: read_pruned(spark, cluster_store, **window))) == 1
    assert max(_task_counts(spark, "pruned-wide", lambda: read_pruned(spark, cluster_store, **wide))) == 1

    odd = str(tmp_path / "odd [dir] name" / "store")
    write_partitioned(_clustered_points(spark), odd)
    assert len([d for d in os.listdir(odd) if d.startswith("p_date=")]) > 32
    holder = {}
    counts = _task_counts(
        spark, "pruned-odd-path", lambda: holder.setdefault("df", read_pruned(spark, odd, **window))
    )
    assert max(counts) == 1
    want = read_pruned(spark, cluster_store, **window)
    assert holder["df"].schema == want.schema
    got_ids = sorted(r.pid for r in holder["df"].select("pid").collect())
    assert got_ids == sorted(r.pid for r in want.select("pid").collect()) and got_ids


def test_bin_records_roundtrip(spark):
    pdf = pd.DataFrame(
        {
            "track": ["t1", "t1", "t2"],
            "lon": [1.5, 2.5, -3.0],
            "lat": [10.0, 11.0, -12.0],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:05", "2024-01-01 00:00:01", "2024-01-01 00:00:03"]
            ),
            "lbl": [7, 8, 9],
        }
    )
    df = spark.createDataFrame(pdf).coalesce(1)

    out16 = bin_records(df, "track", ts="ts").collect()
    assert sum(r.n_records for r in out16) == 3
    dec = pd.concat([decode_bin(bytes(r.payload)) for r in out16])
    assert len(dec) == 3
    # time-sorted within partition
    assert list(dec["ts"]) == sorted(dec["ts"])
    np.testing.assert_allclose(sorted(dec["lon"]), sorted(pdf["lon"]), rtol=1e-6)

    out24 = bin_records(df, "track", ts="ts", label="lbl").collect()
    dec24 = pd.concat([decode_bin(bytes(r.payload), with_label=True) for r in out24])
    assert set(dec24["label"]) == {7, 8, 9}
    # same track -> same hashed id
    t1_ids = dec24.loc[dec24.label.isin([7, 8]), "track_id"].unique()
    assert len(t1_ids) == 1


def test_native_exports(spark, pts_df, tmp_path):
    for fmt in ("csv", "tsv", "json", "parquet", "orc"):
        p = str(tmp_path / f"out_{fmt}")
        export(pts_df.limit(50), p, fmt)
        assert os.path.isdir(p)
    back = spark.read.options(header=True, sep="\t").csv(str(tmp_path / "out_tsv"))
    assert back.count() == 50


def test_arrow_ipc_export(spark, pts_df, tmp_path):
    p = str(tmp_path / "arrow_out")
    nfiles = export_arrow_ipc(pts_df.repartition(3), p)
    assert nfiles == 3
    total = 0
    for f in os.listdir(p):
        with pa.ipc.open_stream(os.path.join(p, f)) as reader:
            t = reader.read_all()
            total += t.num_rows
    assert total == 2000
