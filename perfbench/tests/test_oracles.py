import numpy as np
import pandas as pd

from perfbench import oracles


def test_ray_cast_concave_polygon():
    # a "C" shape: the notch (1..2, 1..2) is outside
    ring = np.array([(0, 0), (3, 0), (3, 1), (1, 1), (1, 2), (3, 2), (3, 3), (0, 3), (0, 0)], float)
    lon = np.array([0.5, 2.5, 1.5, 2.5, 4.0, -1.0])
    lat = np.array([0.5, 0.5, 1.5, 2.5, 1.5, 1.5])
    assert oracles.ray_cast(lon, lat, ring).tolist() == [True, True, False, True, False, False]
    assert oracles.polygon_counts(lon, lat, {"c": ring}) == {"c": 3}


def test_compare_counts_reports_missing_keys():
    assert oracles.compare_counts({"a": 1}, {"a": 1}) == []
    assert len(oracles.compare_counts({"a": 1}, {"a": 1, "b": 2})) == 1


def test_knn_check_accepts_exact_and_rejects_wrong_ids():
    rng = np.random.default_rng(0)
    ids = np.array([f"i{k}" for k in range(50)], dtype=object)
    lon, lat = rng.uniform(-1, 1, 50), rng.uniform(-1, 1, 50)
    q = pd.DataFrame({"query_id": [0], "lon": [0.0], "lat": [0.0]})
    order = np.argsort(oracles.haversine_m(0.0, 0.0, lon, lat))[:3]
    good = pd.DataFrame({"query_id": 0, "image_id": ids[order], "rnk": [1, 2, 3]})
    assert oracles.knn_mismatches(good, q, ids, lon, lat, 3) == []
    bad = good.assign(image_id=ids[order[::-1]])
    assert oracles.knn_mismatches(bad, q, ids, lon, lat, 3)


def test_tile_compare():
    frames = [pd.DataFrame({"tile_cell": [1, 2, 2], "weight": [0.5, 1.0, 2.0]}), None]
    want = oracles.tile_aggregate(frames)
    got = pd.DataFrame({"tile_cell": [2, 1], "weight_sum": [3.0, 0.5], "n": [2, 1]})
    assert oracles.compare_tiles(got, want) == []
    assert oracles.compare_tiles(got.assign(n=[1, 1]), want)


def test_members_box_test_includes_edges_and_ray_cast_skips_the_notch():
    box = np.array([(0, 0), (2, 0), (2, 1), (0, 1), (0, 0)], float)
    tri = np.array([(0.5, 0), (2.5, 0), (0.5, 2), (0.5, 0)], float)
    assert oracles.is_box(box) and not oracles.is_box(tri)
    lon = np.array([0.0, 2.0, 1.0, 1.8, 3.0])
    lat = np.array([0.5, 1.0, 0.5, 0.9, 0.5])
    m = oracles.polygon_members(lon, lat, {"b": box, "t": tri})
    assert m["b"].tolist() == [0, 1, 2, 3]
    assert m["t"].tolist() == [2]  # (1.8, 0.9) is past the hypotenuse
    assert oracles.polygon_counts(lon, lat, {"b": box, "t": tri}) == {"b": 4, "t": 1}


def test_compare_pairs():
    want = {("a", "p"), ("b", "p")}
    assert oracles.compare_pairs(set(want), want) == []
    out = oracles.compare_pairs({("a", "p"), ("c", "p")}, want)
    assert out[0].startswith("engine 2 pairs, oracle 2, differing in 2")
    assert len(out) == 3
