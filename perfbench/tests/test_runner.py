import time

from perfbench import runner
from perfbench.spans import Tracer
from perfbench.workloads import Context, Workload


def _phase(ops):
    """A phase whose timed operations are ``ops`` (callables)."""
    ctx = Context(None, Tracer(False), "", 1, 0)
    w = Workload(ctx)
    for op in ops:
        t = time.perf_counter()
        ok, _ = ctx.attempt(op)
        w._timed(None, t, ok)
        w.items += ok
    w.item_s = 12.0
    return runner.Phase(w, 1.0, 2.0, 3.0, 12.0, 100.0)


def _raise():
    raise RuntimeError("boom")


def test_failed_operation_gives_no_sample_and_fails_the_run():
    p = _phase([lambda: 1, _raise, lambda: 2])
    assert len(p.workload.samples) == 2
    result = runner.result_line([p], runner.end_to_end(p), runner.END_TO_END)
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 3, 1)


def test_latency_without_a_successful_operation_is_the_whole_loop():
    p = _phase([_raise, _raise])
    m = runner.end_to_end(p)
    assert m["op_p50_s"] == m["op_tail_s"] == p.timed_s
    assert m["throughput_per_s"] == 0.0


def test_clean_run_is_correct_and_a_queued_mismatch_is_not():
    p = _phase([lambda: 1])
    assert runner.result_line([p], runner.end_to_end(p), runner.END_TO_END)["correct"]
    p.ctx.defer("probe", lambda: ["engine 1 != oracle 2"])
    assert runner.result_line([p], runner.end_to_end(p), runner.END_TO_END)["correct"]  # not run yet
    p.ctx.run_checks()
    assert not runner.result_line([p], runner.end_to_end(p), runner.END_TO_END)["correct"]
    assert p.ctx.pending == []
