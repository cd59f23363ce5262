"""The three workloads. Each drives the engine only through its public calls,
from one client in a closed loop: the next operation starts when the last
one has returned.

A workload object lives for one Spark session. ``setup`` generates and
persists its inputs, ``prepare_checks`` computes reference answers,
``warmup`` runs untimed operations (fewer when ``warm_jvm``: an earlier
session of the process already warmed the JVM), ``step`` runs one timed
closed-loop operation and queues the check of its output, and ``finish``
records what the store looks like after the loop. The queued checks run
after the timed loop and the memory reading (``Context.run_checks``), so
the oracles' own work stays out of both. Spans (a no-op unless tracing) wrap every public call.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geomesa_spark.core.geometry import box
from geomesa_spark.operators.knn import knn_join
from geomesa_spark.operators.spatial_join import prepare_polygons, spatial_join
from geomesa_spark.sources import images
from geomesa_spark.sources.parquet_scan import density_scan
from geomesa_spark.sources.storage import read_pruned, write_partitioned

from . import inputs, oracles
from .spans import Tracer


class Context:
    """What a workload shares with the runner: session, tracer, scratch
    directory, the seed and this session's query generator (``phase``
    numbers the sessions of one process), whether the run reports per-layer
    metrics (``traced_run``, true for every session of a traced run), the
    attempt/failure/mismatch tallies and the queued checks."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, phase: int,
                 traced_run: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.traced_run = traced_run
        self.rng = inputs.query_rng(seed, phase)
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.pending: list[tuple[str, Callable[[], list[str]]]] = []

    def attempt(self, fn) -> tuple[bool, object]:
        """Run one operation -> (succeeded, result). An exception counts as a
        failed operation; its traceback goes to stderr."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return False, None

    def defer(self, what: str, check: Callable[[], list[str]]) -> None:
        """Queue a check that returns its mismatches."""
        self.pending.append((what, check))

    def run_checks(self) -> None:
        for what, check in self.pending:
            mismatches = check()
            for m in mismatches[:5]:
                print(f"CHECK FAILED {what}: {m}", file=sys.stderr)
            self.mismatches.extend(f"{what}: {m}" for m in mismatches)
        self.pending.clear()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.samples: list[float] = []  # latency of each timed operation
        self.items = 0                  # work units finished in timed operations
        self.item_s = 0.0               # seconds the throughput divides by
        self.timed_ops: list[int] = []  # root span ids of timed operations
        self.layer: dict[str, float] = {}  # per-layer values measured directly

    def _timed(self, s, t0: float, ok: bool) -> None:
        """Record a timed operation that began at ``t0``. A failed one gives
        no latency sample; its failure fails the run instead."""
        if ok:
            self.samples.append(time.perf_counter() - t0)
            if s is not None:
                self.timed_ops.append(s.id)

    def prepare_checks(self) -> None:
        """Compute reference answers that need the inputs (untimed)."""

    def finish(self) -> None:
        """Bookkeeping after the timed loop."""


class TileRender(Workload):
    """density_scan over a parquet image table with fixed city polygons, then
    a per-tile sum/count. Covers repeat, so ``_COVER_CACHE`` always hits."""

    name = "tile_render"
    N_IMAGES = 3200
    N_SPLITS = 8  # row groups of one file: 2 splits per core on 4 cores
    RES = 14
    DECODE_SAMPLE = 500
    WARMUP_PASSES = 8  # pass time falls for 5-7 passes after the cold first one
    WARM_JVM_PASSES = 2  # in a session whose JVM an earlier session warmed

    def setup(self) -> None:
        self.path = os.path.join(self.ctx.work, "images")
        os.makedirs(self.path)
        base = inputs.id_base(self.name, self.ctx.seed)
        rows = images.generate_batch(np.arange(base, base + self.N_IMAGES))
        pq.write_table(
            pa.Table.from_pandas(rows, preserve_index=False),
            os.path.join(self.path, "part-00000.parquet"),
            row_group_size=self.N_IMAGES // self.N_SPLITS,
        )
        self.polygons = inputs.city_polygons()

    def prepare_checks(self) -> None:
        """The kernel's aggregate and the layer probes, from a child process
        so that their memory stays out of ``peak_rss_mb``. Also queues one
        untimed ``density_scan`` whose (image, polygon) pairs must match a
        box test and ray cast of the table's own coordinates."""
        out = os.path.join(self.ctx.work, "tile_reference.parquet")
        proc = subprocess.run(
            [sys.executable, "-m", "perfbench.tile_reference", self.path, str(self.RES),
             str(self.DECODE_SAMPLE), out],
            stdout=subprocess.PIPE, text=True, check=True,
        )
        self.layer.update(json.loads(proc.stdout.splitlines()[-1]))
        self.want = pd.read_parquet(out)
        self.ctx.defer("tile_render (image, polygon) pairs", self._check_pairs)

    def _check_pairs(self) -> list[str]:
        def scan():
            tiles = density_scan(self.spark, self.path, prepare_polygons(self.polygons), res=self.RES)
            return {(r["image_id"], r["poly_id"]) for r in tiles.select("image_id", "poly_id").distinct().collect()}

        ok, pairs = self.ctx.attempt(scan)
        return oracles.compare_pairs(pairs, self._oracle_pairs()) if ok else []

    def _oracle_pairs(self) -> set[tuple[str, str]]:
        tbl = pq.read_table(self.path, columns=["image_id", "lon", "lat"])
        ids = tbl.column("image_id").to_pylist()
        rings = {pid: np.asarray(g.coords[0], dtype=np.float64) for pid, g in self.polygons.items()}
        members = oracles.polygon_members(tbl.column("lon").to_numpy(), tbl.column("lat").to_numpy(), rings)
        return {(ids[i], pid) for pid, idx in members.items() for i in idx}

    def _pass(self, action):
        with self.span("core.cells.cover"):
            prepared = prepare_polygons(self.polygons)
            self.ctx.tracer.count("cover_rows", len(prepared.cover_rows))
        with self.span("sources.parquet_scan.density_scan"):
            tiles = density_scan(self.spark, self.path, prepared, res=self.RES)
            return action(
                tiles.groupBy("tile_cell").agg(
                    F.sum("weight").alias("weight_sum"), F.count(F.lit(1)).alias("n")
                )
            )

    def _checked_pass(self, what: str, timed: bool) -> None:
        t = time.perf_counter()
        with self.span("tile_render.pass", new_op=True) as s:
            ok, got = self.ctx.attempt(lambda: self._pass(lambda df: df.toPandas()))
        if timed:
            self._timed(s, t, ok)
            self.items += self.N_IMAGES if ok else 0
        if ok:
            self.ctx.defer(what, lambda: oracles.compare_tiles(got, self.want))

    def warmup(self, warm_jvm: bool = False) -> None:
        for _ in range(self.WARM_JVM_PASSES if warm_jvm else self.WARMUP_PASSES):
            self._checked_pass("tile_render warm-up pass", timed=False)

    def step(self) -> None:
        self._checked_pass("tile_render pass", timed=True)


class PipJoin(Workload):
    """spatial_join of a persisted, skewed point table against a fresh set of
    overlapping star polygons on every pass, so the cover cache never hits."""

    name = "pip_join"
    N_POINTS = 1_000_000
    N_POLYS = 6
    HOT_FRAC = 0.5
    PARTS = 8
    WARMUP_PASSES = 2

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.base = inputs.id_base(self.name, ctx.seed)
        self.hot = inputs.hot_city(ctx.seed)
        self.passes = 0
        self._lonlat: tuple[np.ndarray, np.ndarray] | None = None

    def setup(self) -> None:
        base, hot, frac = self.base, self.hot, self.HOT_FRAC

        def gen(batches):
            for pdf in batches:
                ids = pdf["id"].to_numpy()
                lon, lat = images.lonlat_of(ids, hot_city=hot, hot_frac=frac)
                yield pd.DataFrame({"image_id": ids, "lon": lon, "lat": lat})

        self.points = (
            self.spark.range(base, base + self.N_POINTS, 1, self.PARTS)
            .mapInPandas(gen, schema="image_id long, lon double, lat double")
            .persist()
        )
        self.points.count()

    def rings(self) -> dict[str, np.ndarray]:
        """The next pass's fresh polygons."""
        rings = inputs.pip_polygons(self.ctx.rng, self.N_POLYS, self.hot, f"p{self.passes}")
        self.passes += 1
        return rings

    def _oracle_counts(self, rings: dict[str, np.ndarray]) -> dict[str, int]:
        if self._lonlat is None:
            self._lonlat = images.lonlat_of(
                np.arange(self.base, self.base + self.N_POINTS), hot_city=self.hot, hot_frac=self.HOT_FRAC
            )
        return oracles.polygon_counts(*self._lonlat, rings)

    def _pass(self, timed: bool) -> None:
        rings = self.rings()
        geoms = {pid: inputs.ring_polygon(r) for pid, r in rings.items()}

        def run():
            with self.span("core.cells.cover"):
                prepared = prepare_polygons(geoms)
                self.ctx.tracer.count("cover_rows", len(prepared.cover_rows))
            with self.span("operators.spatial_join.plan"):
                joined = spatial_join(self.points, prepared, strategy="auto")
            with self.span("operators.spatial_join.exec"):
                rows = joined.groupBy("poly_id").count().collect()
                got = {r["poly_id"]: int(r["count"]) for r in rows}
                self.ctx.tracer.count("result_rows", sum(got.values()))
            return got

        t = time.perf_counter()
        with self.span("pip_join.pass", new_op=True) as s:
            ok, got = self.ctx.attempt(run)
        if timed:
            self._timed(s, t, ok)
            self.items += self.N_POINTS if ok else 0
        if ok:
            self.ctx.defer("pip_join per-polygon counts",
                           lambda: oracles.compare_counts(got, self._oracle_counts(rings)))

    def warmup(self, warm_jvm: bool = False) -> None:
        for _ in range(self.WARMUP_PASSES):
            self._pass(timed=False)

    def step(self) -> None:
        self._pass(timed=True)


class IngestQuery(Workload):
    """Appends image batches to a p_date/p_cell store that starts empty;
    after each append the client issues window queries, and in a traced run
    one kNN call. Window queries are the timed samples. kNN calls are timed
    per layer only, since their round count, and so their latency, swings
    with how dense the young store is around the query point; an untraced
    run leaves them out, because they would take half of its time (the first
    call ~12 s, then ~2 s each) and feed no end-to-end metric."""

    name = "ingest_query"
    BATCH_ROWS = 50
    CYCLE = ("append", "window", "window")
    TRACED_CYCLE = CYCLE + ("knn",)
    WARMUP_CYCLES = 4  # of CYCLE, after the first (cold) call of each operation
    KNN_QUERIES = 2
    K = 10

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.cycle = self.TRACED_CYCLE if ctx.traced_run else self.CYCLE

    def setup(self) -> None:
        self.store = os.path.join(self.ctx.work, "store")
        shutil.rmtree(self.store, ignore_errors=True)
        self.next_id = inputs.id_base(self.name, self.ctx.seed)
        self.written: pa.Table | None = None
        self.input_bytes = 0
        self.con = None  # DuckDB, opened by the first check
        self.store_files: list[int] = []  # parquet files in the store at each timed window
        self.rotation = 0
        self.windows = 0
        self.batch = self._next_batch(self.BATCH_ROWS)

    def _next_batch(self, n: int) -> pd.DataFrame:
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        return images.generate_batch(ids)

    def _write(self, pdf: pd.DataFrame) -> float:
        """Append ``pdf`` to the store and to the oracle's copy -> seconds
        spent in write_partitioned."""
        df = self.spark.createDataFrame(pdf, schema=images.IMAGES_SCHEMA)
        with self.span("sources.storage.write"):
            t = time.perf_counter()
            write_partitioned(df, self.store, mode="append")
            write_s = time.perf_counter() - t
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        self.input_bytes += tbl.nbytes
        keep = tbl.select(["image_id", "lon", "lat", "ts"])
        self.written = keep if self.written is None else pa.concat_tables([self.written, keep])
        return write_s

    def _duckdb(self):
        if self.con is None:
            import duckdb

            self.con = duckdb.connect()
        return self.con

    def _append(self, timed: bool) -> None:
        with self.span("ingest_query.append", new_op=True) as s:
            ok, write_s = self.ctx.attempt(lambda: self._write(self.batch))
        if timed and ok:
            if s is not None:
                self.timed_ops.append(s.id)
            self.items += len(self.batch)
            self.item_s += write_s
        self.batch = self._next_batch(self.BATCH_ROWS)  # the client prepares its next batch

    def _window(self, timed: bool) -> None:
        (x0, y0, x1, y1), (d0, d1) = inputs.window(self.ctx.rng, self.windows)
        self.windows += 1
        g = box(x0, y0, x1, y1)

        def run():
            with self.span("sources.storage.prune"):
                df = read_pruned(self.spark, self.store, geom=g, time_range=(d0, d1))
            with self.span("core.cells.cover"):
                prepared = prepare_polygons({"w": g})
                self.ctx.tracer.count("cover_rows", len(prepared.cover_rows))
            with self.span("operators.spatial_join.plan"):
                joined = spatial_join(df, prepared)
            with self.span("operators.spatial_join.exec"):
                n = joined.count()
                self.ctx.tracer.count("result_rows", n)
            return n

        t = time.perf_counter()
        with self.span("ingest_query.window", new_op=True) as s:
            ok, n = self.ctx.attempt(run)
        if timed:
            self._timed(s, t, ok)
        if ok:
            written = self.written  # the rows the query could see
            self.ctx.defer("ingest_query window count", lambda: oracles.compare_counts(
                {"w": n}, {"w": oracles.window_count(self._duckdb(), written, x0, y0, x1, y1, d0, d1)}
            ))
            if self.ctx.tracer.enabled and timed:
                self.store_files.append(parquet_files(self.store))

    def _knn(self, timed: bool) -> None:
        q = inputs.knn_queries(self.ctx.rng, self.KNN_QUERIES)

        def run():
            with self.span("operators.knn.call"):
                return knn_join(self.spark.read.parquet(self.store), q, self.K).toPandas()

        with self.span("ingest_query.knn", new_op=True) as s:
            ok, got = self.ctx.attempt(run)
        if timed and ok and s is not None:
            self.timed_ops.append(s.id)
        if ok:
            w = self.written
            self.ctx.defer("ingest_query kNN ids", lambda: oracles.knn_mismatches(
                got, q, w.column("image_id").to_numpy(zero_copy_only=False),
                w.column("lon").to_numpy(), w.column("lat").to_numpy(), self.K,
            ))

    def _op(self, op: str, timed: bool) -> None:
        {"append": self._append, "window": self._window, "knn": self._knn}[op](timed=timed)

    def warmup(self, warm_jvm: bool = False) -> None:
        """The first call of each operation is cold (the first append ~9 s,
        the first kNN ~12 s); window latency keeps falling for about ten
        more windows (JIT), so append/window cycles run untimed before the
        loop, one if an earlier session already warmed the JVM."""
        for op in dict.fromkeys(self.cycle):
            self._op(op, timed=False)
        for _ in range(1 if warm_jvm else self.WARMUP_CYCLES):
            for op in self.CYCLE:
                self._op(op, timed=False)

    def step(self) -> None:
        """One operation of the cycle."""
        op = self.cycle[self.rotation % len(self.cycle)]
        self.rotation += 1
        self._op(op, timed=True)

    def finish(self) -> None:
        rows = self.written.num_rows
        self.layer["sources.storage.bytes_per_input_byte"] = dir_bytes(self.store) / self.input_bytes
        self.layer["sources.storage.files_per_1k_rows"] = parquet_files(self.store) / rows * 1000
        self.layer["sources.storage.partitions"] = float(sum(
            1 for d, sub, fs in os.walk(self.store) if not sub and any(f.endswith(".parquet") for f in fs)
        ))


WORKLOADS = {w.name: w for w in (TileRender, PipJoin, IngestQuery)}
