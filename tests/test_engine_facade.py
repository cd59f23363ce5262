"""Engine facade smoke: the one-object API a reference user switches to."""

from __future__ import annotations

import pandas as pd

from geomesa_spark.engine import Engine


def test_facade_surface(spark):
    eng = Engine(spark)
    assert eng.register_sql() >= 60

    pdf = pd.DataFrame({"lon": [2.35, -74.0], "lat": [48.85, 40.7], "pid": [1, 2]})
    df = spark.createDataFrame(pdf)
    hits = eng.spatial_join(
        df, {"eu": "POLYGON((-10 35, 40 35, 40 70, -10 70, -10 35))"}
    )
    assert [r.pid for r in hits.collect()] == [1]

    plan = eng.plan(geom="POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert plan.strategy == "z2"

    stats = eng.stats(df, "Count(); MinMax(lon)")
    assert stats["Count()"].collect()[0].cnt == 2


def test_read_pruned_forwards_part_res(spark, tmp_path):
    """A store written through the facade at part_res=8 reads back through
    it: the p_cell IN-list must be built at the store's resolution."""
    import numpy as np

    rng = np.random.default_rng(3)
    n = 300
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(0, 20, n),
            "lat": rng.uniform(0, 20, n),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 5 * 86400, n), unit="s"),
        }
    )
    eng = Engine(spark)
    path = str(tmp_path / "store8")
    eng.write_partitioned(spark.createDataFrame(pdf), path, part_res=8)

    df = eng.read_pruned(
        path,
        geom="POLYGON((2 2, 9 2, 9 9, 2 9, 2 2))",
        time_range=("2024-01-02", "2024-01-04"),
        part_res=8,
    )
    got = {
        r.pid
        for r in df.filter("lon BETWEEN 2 AND 9 AND lat BETWEEN 2 AND 9").select("pid").collect()
    }
    day = pdf.ts.dt.strftime("%Y-%m-%d")
    want = set(
        pdf.pid[
            pdf.lon.between(2, 9) & pdf.lat.between(2, 9) & day.between("2024-01-02", "2024-01-04")
        ]
    )
    assert got == want and want


def test_where_spatial_interception(spark):
    """SQLRules analog: spatial conjuncts over literal geometries rewrite to
    the cell-cover join (no per-row predicate UDF in the plan); residual
    conjuncts survive as native filters. Parity vs the raw UDF evaluation."""
    import io
    from contextlib import redirect_stdout

    import numpy as np
    from pyspark.sql import functions as F

    from geomesa_spark.engine import Engine
    from geomesa_spark.sources import images as src

    eng = Engine(spark)
    eng.register_sql()
    pdf = src.generate_batch(np.arange(3000))[["image_id", "lon", "lat", "w"]]
    df = spark.createDataFrame(pdf)
    wkt = "POLYGON((-74.6 40.2, -73.4 40.2, -73.4 41.2, -74.6 41.2, -74.6 40.2))"
    pred = (
        f"st_intersects(st_geomFromWKT('{wkt}'), st_makePoint(lon, lat)) "
        f"AND w >= 20"
    )
    out = eng.where_spatial(df, pred)
    # the rewritten plan must not evaluate a python predicate UDF (box
    # polygon -> fully native refine)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("extended")
    plan = buf.getvalue()
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan

    got = {r.image_id for r in out.collect()}
    raw = df.filter(
        F.expr(
            f"st_intersects(st_geomFromWKT('{wkt}'), st_makePoint(lon, lat))"
        )
        & (F.col("w") >= 20)
    )
    expect = {r.image_id for r in raw.collect()}
    assert got == expect and len(got) > 0

    # point-first / within form (boundary excluded) also intercepts
    out2 = eng.where_spatial(
        df, f"st_within(st_makePoint(lon, lat), st_geomFromWKT('{wkt}'))"
    )
    all_inside = {
        r.image_id
        for r in df.filter(
            F.expr(
                f"st_intersects(st_geomFromWKT('{wkt}'), st_makePoint(lon, lat))"
            )
        ).collect()
    }
    got2 = {r.image_id for r in out2.collect()}
    assert got2 <= all_inside and len(got2) > 0


def test_where_spatial_bbox_and_dwithin_forms(spark):
    """Round-3 broadening (VERDICT #8): st_makeBBOX literals and st_dwithin
    rewrite to index-backed operators; parity vs plain-SQL semantics."""
    import io
    from contextlib import redirect_stdout

    import numpy as np
    from pyspark.sql import functions as F

    from geomesa_spark.engine import Engine
    from geomesa_spark.sources import images as src

    eng = Engine(spark)
    pdf = src.generate_batch(np.arange(3000))[["image_id", "lon", "lat", "w"]]
    df = spark.createDataFrame(pdf)

    # bbox constructor form -> cell-cover join, no python UDF in plan
    out = eng.where_spatial(
        df, "st_intersects(st_makeBBOX(-74.6, 40.2, -73.4, 41.2), "
            "st_makePoint(lon, lat))"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("extended")
    assert "ArrowEvalPython" not in buf.getvalue()
    got = {r.image_id for r in out.collect()}
    expect = {
        r.image_id
        for r in df.filter(
            (F.col("lon") >= -74.6) & (F.col("lon") <= -73.4)
            & (F.col("lat") >= 40.2) & (F.col("lat") <= 41.2)
        ).collect()
    }
    assert got == expect and len(got) > 0

    # st_dwithin (meters, either argument order) -> proximity join rewrite
    from geomesa_spark.operators.proximity import haversine_sql

    for pred in (
        "st_dwithin(st_geomFromWKT('POINT(-74.006 40.713)'), "
        "st_makePoint(lon, lat), 250000)",
        "st_dwithin(st_makePoint(lon, lat), "
        "st_geomFromWKT('POINT(-74.006 40.713)'), 250000)",
    ):
        out = eng.where_spatial(df, pred)
        got = {r.image_id for r in out.collect()}
        expect = {
            r.image_id
            for r in df.filter(
                F.expr(haversine_sql("-74.006", "40.713", "lon", "lat")) <= 250000
            ).collect()
        }
        assert got == expect and len(got) > 0, pred
    assert "site_id" not in out.columns and "dist_m" not in out.columns


def test_where_spatial_parser_edges(spark):
    """Parser robustness: quoted WKT containing parens and the word AND,
    nested constructors, and malformed spatial conjuncts falling back to
    residual native filters (which then fail loudly if unregistered)."""
    import numpy as np

    from geomesa_spark.engine import Engine
    from geomesa_spark.planner_rules import split_conjuncts
    from geomesa_spark.sources import images as src

    # WKT with parens + 'AND' inside quotes must not split
    pred = (
        "st_intersects(st_geomFromWKT('POLYGON((0 0, 5 0, 5 5, 0 5, 0 0))'), "
        "st_makePoint(lon, lat)) AND w >= 8"
    )
    parts = split_conjuncts(pred)
    assert len(parts) == 2 and parts[1] == "w >= 8"

    eng = Engine(spark)
    pdf = src.generate_batch(np.arange(500))[["image_id", "lon", "lat", "w"]]
    df = spark.createDataFrame(pdf)
    out = eng.where_spatial(df, pred)
    got = out.toPandas()
    assert ((got.lon >= 0) & (got.lon <= 5) & (got.lat >= 0) & (got.lat <= 5)).all()
    assert (got.w >= 8).all()

    # non-literal geometry argument -> NOT intercepted -> residual filter
    # (needs registered UDFs; with them, parity with the rewrite holds)
    eng.register_sql()
    out2 = eng.where_spatial(
        df, "st_intersects(st_geomFromWKT(concat('POINT(0', ' 0)')), "
            "st_makePoint(lon, lat))"
    )
    assert out2.count() == 0  # no image exactly at (0,0)


def test_where_spatial_geometry_column_routes(spark):
    """WKB geometry-column predicates route to geometry_join (the XZ path):
    st_intersects / st_contains / st_covers / st_within / st_coveredby over
    a binary geom column vs a literal polygon, parity vs shapely-free
    brute force on box overlap/containment, residual conjunct preserved."""
    from geomesa_spark.core.geometry import box, to_wkb
    from geomesa_spark.engine import Engine

    eng = Engine(spark)
    # 2x2-degree boxes centered on a grid; polygon covers x in [0..5]
    rows = []
    centers = [(x + 0.5, y + 0.5) for x in range(-4, 8, 2) for y in range(-4, 8, 2)]
    for i, (cx, cy) in enumerate(centers):
        rows.append((i, cx, cy, to_wkb(box(cx - 1, cy - 1, cx + 1, cy + 1))))
    df = spark.createDataFrame(rows, ["gid", "cx", "cy", "geom"])
    lit = "st_makeBBOX(0.05, 0.05, 5.05, 5.05)"

    def brute(pred):
        out = set()
        for i, (cx, cy) in enumerate(centers):
            x0, y0, x1, y1 = cx - 1, cy - 1, cx + 1, cy + 1
            inter = x1 >= 0.05 and x0 <= 5.05 and y1 >= 0.05 and y0 <= 5.05
            inside = x0 >= 0.05 and x1 <= 5.05 and y0 >= 0.05 and y1 <= 5.05
            if (pred == "inter" and inter) or (pred == "inside" and inside):
                out.add(i)
        return out

    for pred_str, want in [
        (f"st_intersects(geom, {lit})", brute("inter")),
        (f"st_intersects({lit}, geom)", brute("inter")),
        (f"st_contains({lit}, geom)", brute("inside")),
        (f"st_covers({lit}, geom)", brute("inside")),
        (f"st_within(geom, {lit})", brute("inside")),
        (f"st_coveredby(geom, {lit})", brute("inside")),
    ]:
        got = {r.gid for r in eng.where_spatial(df, pred_str).collect()}
        assert got == want, f"{pred_str}: {sorted(got)} != {sorted(want)}"

    # residual conjunct composes, schema preserved (poly_id dropped)
    out = eng.where_spatial(df, f"st_intersects(geom, {lit}) AND cx > 2")
    assert set(out.columns) == {"gid", "cx", "cy", "geom"}
    assert {r.gid for r in out.collect()} == {
        i for i in brute("inter") if centers[i][0] > 2
    }
