import numpy as np
import pandas as pd

from geomesa_spark.sources import images
from perfbench import inputs
from perfbench.runner import TRACED_PHASES
from perfbench.spans import Tracer
from perfbench.workloads import Context, PipJoin


def _draw(seed, phase=0):
    rng = inputs.query_rng(seed, phase)
    return (
        inputs.pip_polygons(rng, 4, hot_city=1, tag="p"),
        inputs.window(rng, 1),
        inputs.knn_queries(rng, 3),
    )


def _rows(workload, seed, n=4):
    base = inputs.id_base(workload, seed)
    return images.generate_batch(np.arange(base, base + n))


def test_same_seed_same_inputs():
    a, b = _draw(5), _draw(5)
    assert a[0].keys() == b[0].keys()
    assert all(np.array_equal(a[0][k], b[0][k]) for k in a[0])
    assert a[1] == b[1]
    pd.testing.assert_frame_equal(a[2], b[2])
    pd.testing.assert_frame_equal(_rows("ingest_query", 5), _rows("ingest_query", 5))


def test_other_seed_other_inputs():
    a, b = _draw(5), _draw(6)
    assert not np.array_equal(a[0]["p_0"], b[0]["p_0"])
    assert a[1] != b[1]
    assert not a[2][["lon", "lat"]].equals(b[2][["lon", "lat"]])
    ra, rb = _rows("tile_render", 5), _rows("tile_render", 6)
    assert set(ra["image_id"]).isdisjoint(rb["image_id"])
    assert not np.array_equal(ra["lon"].to_numpy(), rb["lon"].to_numpy())


def test_each_phase_draws_other_queries():
    draws = [_draw(5, phase) for phase in TRACED_PHASES.values()]
    for i, a in enumerate(draws):
        for b in draws[i + 1:]:
            assert not any(np.array_equal(a[0][k], b[0][k]) for k in a[0])
            assert a[1] != b[1]
            assert not a[2][["lon", "lat"]].equals(b[2][["lon", "lat"]])


def test_traced_phase_pip_polygons_differ_from_the_warm_phase():
    def pip_join(phase):
        return PipJoin(Context(None, Tracer(False), "", 5, phase))

    warm, traced = pip_join(TRACED_PHASES["warm"]), pip_join(TRACED_PHASES["traced"])
    assert warm.hot == traced.hot and warm.base == traced.base  # same table
    for _ in range(3):  # warm-up and timed passes alike
        a, b = warm.rings(), traced.rings()
        assert not any(np.array_equal(a[k], b[k]) for k in a)
    again = pip_join(TRACED_PHASES["warm"]).rings()
    first = pip_join(TRACED_PHASES["warm"]).rings()
    assert all(np.array_equal(again[k], first[k]) for k in again)


def test_id_ranges_are_disjoint_across_workloads_and_seeds():
    bases = sorted(inputs.id_base(w, s) for w in inputs.WORKLOADS for s in range(50))
    assert all(b - a >= inputs.ID_SPAN for a, b in zip(bases, bases[1:]))


def test_windows_are_whole_days_inside_the_data_span():
    rng = np.random.default_rng(0)
    for slot in range(50):
        (x0, y0, x1, y1), (d0, d1) = inputs.window(rng, slot)
        assert x0 < x1 and y0 < y1
        t0, t1 = pd.Timestamp(d0), pd.Timestamp(d1)
        assert pd.Timestamp(images.TS_EPOCH, unit="s") <= t0 < t1
        assert t1 < pd.Timestamp(images.TS_EPOCH + images.TS_SPAN, unit="s")
