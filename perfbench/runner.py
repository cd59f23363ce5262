"""One benchmark run: set up, warm up, measure a closed loop, check, report.

Untraced runs (``--trace 0``) report the end-to-end metrics. Traced runs
(``--trace 1``) run the workload three times in one process: a plain phase
that only sets up and warms up (it warms the JVM), then, each with a
shorter warm-up, a phase with Spark's event log on and spans around every
public call and a plain phase as the reference for ``trace.overhead_frac``.
They report the per-layer metrics. Each phase draws
its own polygons, windows and kNN points (``inputs.query_rng``), so no phase
meets covers an earlier one left in the engine's caches.

A run is correct when no check found a mismatch and no operation failed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from . import eventlog, host, stats
from .spans import Span, Tracer, descendants, self_times
from .workloads import WORKLOADS, Context, Workload

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "fixtures.generate_s": "s",
    "core.cells.cover_s": "s",
    "core.cells.cover_rows": "count",
    "sources.parquet_scan.kernel_s_per_1k": "s",
    "sources.parquet_scan.tile_rows_out": "count",
    "sources.parquet_scan.splits": "count",
    "functions.image.decode_s_per_1k": "s",
    "operators.spatial_join.plan_s": "s",
    "operators.spatial_join.exec_s": "s",
    "operators.spatial_join.candidate_rows": "count",
    "operators.spatial_join.result_rows": "count",
    "operators.spatial_join.refine_frac": "ratio",
    "sources.storage.write_s": "s",
    "sources.storage.files_per_1k_rows": "count",
    "sources.storage.partitions": "count",
    "sources.storage.bytes_per_input_byte": "ratio",
    "sources.storage.prune_s": "s",
    "sources.storage.files_read_per_window": "count",
    "sources.storage.prune_frac": "ratio",
    "operators.knn.call_p50_s": "s",
    "operators.knn.jobs_per_call": "count",
    "operators.knn.files_scanned_per_call": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.core_busy_frac": "ratio",
    "spark.python_boot_s": "s",
    "spark.python_in_bytes": "bytes",
    "spark.python_out_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "host.control_s": "s",
    "trace.overhead_frac": "ratio",
}


# phase numbers of a traced run's sessions; an untraced run is phase 0
TRACED_PHASES = {"warm": 0, "traced": 1, "plain": 2}


class SetupFailed(RuntimeError):
    pass


@dataclass
class Phase:
    workload: Workload
    session_s: float
    generate_s: float
    warmup_s: float
    timed_s: float
    peak_rss_mb: float
    jvm_rss_mb: float = 0.0  # the JVM's share of peak_rss_mb

    @property
    def ctx(self) -> Context:
        return self.workload.ctx

    @property
    def tracer(self) -> Tracer:
        return self.workload.ctx.tracer

    @property
    def setup_s(self) -> float:
        return self.session_s + self.generate_s + self.warmup_s


def run_phase(name: str, spark_host: host.SparkHost, seed: int, phase: int, seconds: float,
              work: str, event_dir: str | None, traced_run: bool = False,
              warm_jvm: bool = False) -> Phase:
    """One session's worth of the workload; traced iff ``event_dir``;
    ``traced_run`` for every session of a traced run; ``warm_jvm`` when an
    earlier session warmed the JVM. No timed loop if ``seconds`` is 0. The
    output checks run after the memory reading."""
    tracer = Tracer(event_dir is not None)
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = spark_host.start(event_dir)
    session_s = time.perf_counter() - t
    tracer.attach(spark.sparkContext)
    ctx = Context(spark, tracer, work, seed, phase, traced_run)
    w = WORKLOADS[name](ctx)

    t = time.perf_counter()
    with tracer.span("fixtures.generate"):
        ok, _ = ctx.attempt(w.setup)
    generate_s = time.perf_counter() - t
    if not ok:
        raise SetupFailed(f"{name}: input generation failed")
    w.prepare_checks()  # oracle work, kept out of setup_s
    t = time.perf_counter()
    with tracer.span("warmup"):
        w.warmup(warm_jvm)
    warmup_s = time.perf_counter() - t

    timed_s = timed_loop(w.step, seconds) if seconds > 0 else 0.0
    w.finish()
    if not w.item_s:
        w.item_s = timed_s
    jvm_rss = host.vm_hwm_mb(spark_host.jvm_pid())
    rss = host.vm_hwm_mb(os.getpid()) + jvm_rss
    ctx.run_checks()
    return Phase(w, session_s, generate_s, warmup_s, timed_s, rss, jvm_rss)


def timed_loop(step, seconds: float) -> float:
    """Run ``step`` back to back; start another only while it is expected
    (by the median step so far) to end within ``seconds``. -> elapsed."""
    durations: list[float] = []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        step()
        durations.append(time.perf_counter() - t)
        if time.perf_counter() - t0 + statistics.median(durations) > seconds:
            return time.perf_counter() - t0


def end_to_end(p: Phase) -> dict[str, float]:
    """With no successful timed operation, both latencies read as the whole
    timed loop (the run is failed anyway)."""
    w = p.workload
    return {
        "setup_s": p.setup_s,
        "throughput_per_s": w.items / w.item_s,
        "op_p50_s": statistics.median(w.samples) if w.samples else p.timed_s,
        "op_tail_s": stats.tail(w.samples) if w.samples else p.timed_s,
        "peak_rss_mb": p.peak_rss_mb,
    }


def _sum_groups(groups: dict[str, dict], spans: list[Span]) -> dict:
    out: dict = defaultdict(float)
    for s in spans:
        for k, v in groups.get(str(s.id), {}).items():
            out[k] += v
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(p: Phase, ref: Phase, groups: dict[str, dict], control_s: float) -> dict[str, float]:
    """Per-layer metrics of a traced phase. ``*_s`` layer times are mean wall
    time per call of that layer inside timed operations; ``spark.*`` figures
    are per timed operation, from the event log."""
    w, spans = p.workload, p.tracer.spans
    timed = descendants(spans, set(w.timed_ops))
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.id in timed:
            by_name[s.name].append(s)

    def mean_s(name: str) -> float:
        return _mean(s.duration for s in by_name[name])

    def mean_count(name: str, key: str) -> float:
        return _mean(s.counts.get(key, 0) for s in by_name[name])

    n_ops = len(w.timed_ops)
    wall = sum(spans[i].duration for i in w.timed_ops)
    ev = _sum_groups(groups, [s for s in spans if s.id in timed])
    execs = by_name["operators.spatial_join.exec"]
    ev_exec = _sum_groups(groups, execs)
    candidates = eventlog.node_metric(ev_exec, "HashJoin", "number of output rows")
    results = sum(s.counts.get("result_rows", 0) for s in execs)
    windows = [s for s in spans if s.name == "ingest_query.window" and s.id in timed]
    ev_windows = _sum_groups(groups, [s for s in spans if s.id in descendants(spans, {x.id for x in windows})])
    files_read = eventlog.node_metric(ev_windows, "Scan", "number of files read")
    store_files = sum(getattr(w, "store_files", []))  # files present, summed over windows
    knn = by_name["operators.knn.call"]
    ev_knn = _sum_groups(groups, knn)
    cores = host.nproc()
    m = {
        "fixtures.generate_s": p.generate_s,
        "core.cells.cover_s": mean_s("core.cells.cover"),
        "core.cells.cover_rows": mean_count("core.cells.cover", "cover_rows"),
        "operators.spatial_join.plan_s": mean_s("operators.spatial_join.plan"),
        "operators.spatial_join.exec_s": mean_s("operators.spatial_join.exec"),
        "operators.spatial_join.candidate_rows": candidates / len(execs) if execs else 0.0,
        "operators.spatial_join.result_rows": results / len(execs) if execs else 0.0,
        "operators.spatial_join.refine_frac": results / candidates if candidates else 0.0,
        "sources.storage.write_s": mean_s("sources.storage.write"),
        "sources.storage.prune_s": mean_s("sources.storage.prune"),
        "sources.storage.files_read_per_window": files_read / len(windows) if windows else 0.0,
        "sources.storage.prune_frac": files_read / store_files if store_files else 0.0,
        "operators.knn.call_p50_s": statistics.median([s.duration for s in knn]) if knn else 0.0,
        "operators.knn.jobs_per_call": ev_knn.get("jobs", 0.0) / len(knn) if knn else 0.0,
        "operators.knn.files_scanned_per_call": (
            eventlog.node_metric(ev_knn, "Scan", "number of files read") / len(knn) if knn else 0.0
        ),
        "spark.executor_run_s": ev.get("executor_run_ms", 0.0) / 1e3 / n_ops,
        "spark.executor_cpu_s": ev.get("executor_cpu_ns", 0.0) / 1e9 / n_ops,
        "spark.gc_s": ev.get("gc_ms", 0.0) / 1e3 / n_ops,
        "spark.tasks": ev.get("tasks", 0.0) / n_ops,
        "spark.core_busy_frac": ev.get("executor_run_ms", 0.0) / 1e3 / (wall * cores),
        "spark.python_boot_s": ev.get("python_boot_ms", 0.0) / 1e3 / n_ops,
        "spark.python_in_bytes": ev.get("python_in_bytes", 0.0) / n_ops,
        "spark.python_out_bytes": ev.get("python_out_bytes", 0.0) / n_ops,
        "spark.shuffle_write_bytes": ev.get("shuffle_write_bytes", 0.0) / n_ops,
        "host.control_s": control_s,
        "trace.overhead_frac": (
            statistics.median(w.samples) / statistics.median(ref.workload.samples) - 1.0
            if w.samples and ref.workload.samples else 0.0
        ),
    }
    for k in PER_LAYER:
        m.setdefault(k, float(w.layer.get(k, 0.0)))
    return m


def join_strategies(p: Phase, groups: dict[str, dict]) -> dict[str, int]:
    """Physical join each spatial_join execution ran, by count."""
    out: dict[str, int] = defaultdict(int)
    for s in p.tracer.spans:
        if s.name != "operators.spatial_join.exec":
            continue
        nodes = {k[0] for k in groups.get(str(s.id), {}) if isinstance(k, tuple)}
        for n in sorted(nodes):
            if n.endswith("Join"):
                out[n] += 1
    return dict(out)


def span_summary(p: Phase) -> dict[str, dict]:
    """Per span name: calls, total and self seconds (for the sidecar)."""
    selfs = self_times(p.tracer.spans)
    out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
    for s in p.tracer.spans:
        e = out[s.name]
        e["calls"] += 1
        e["total_s"] += s.duration
        e["self_s"] += selfs[s.id]
    return dict(out)


def result_line(phases: list[Phase], metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The run's verdict and metrics. A mismatch or a failed operation makes
    the run incorrect."""
    failed = sum(p.ctx.failed for p in phases)
    return {
        "correct": not failed and not any(p.ctx.mismatches for p in phases),
        "attempted": sum(p.ctx.attempted for p in phases),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    """-> (result line, sidecar). Shuts every process it started down."""
    spark_host = host.SparkHost(work, f"perfbench-{name}")
    control = host.control_s()
    ticks = host.cpu_ticks()
    phases: list[Phase] = []
    try:
        if trace:
            # a plain set-up and warm-up first warms the JVM, so that the
            # traced phase and the plain reference after it are compared
            # equally warm
            phases.append(run_phase(name, spark_host, seed, TRACED_PHASES["warm"], 0,
                                    os.path.join(work, "warm"), None, traced_run=True))
            spark_host.stop_session()
            event_dir = os.path.join(work, "eventlog")
            traced = run_phase(name, spark_host, seed, TRACED_PHASES["traced"], seconds,
                               os.path.join(work, "traced"), event_dir, traced_run=True, warm_jvm=True)
            phases.append(traced)
            spark_host.stop_session()  # flushes the event log
            groups = eventlog.read_groups(event_dir)
            ref = run_phase(name, spark_host, seed, TRACED_PHASES["plain"], seconds,
                            os.path.join(work, "plain"), None, traced_run=True, warm_jvm=True)
            phases.append(ref)
            metrics = per_layer(traced, ref, groups, control)
            metrics["session.start_s"] = phases[0].session_s  # the cold start
            units = PER_LAYER
            strategies = join_strategies(traced, groups)
        else:
            phases.append(run_phase(name, spark_host, seed, 0, seconds, work, None))
            metrics = end_to_end(phases[0])
            units = END_TO_END
            strategies = {}
    finally:
        spark_host.shutdown()
    result = result_line(phases, metrics, units)
    attempted, failed = result["attempted"], result["failed"]
    mismatches = [m for p in phases for m in p.ctx.mismatches]
    sidecar = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "ops_failed_frac": failed / attempted if attempted else 0.0,
        "host_control_s": control,
        "host_steal_frac": host.steal_frac(ticks, host.cpu_ticks()),
        "mismatches": mismatches[:50],
        "spatial_join_strategies": strategies,
        "phases": [
            {
                "traced": p.tracer.enabled,
                "setup": {"session_s": p.session_s, "generate_s": p.generate_s, "warmup_s": p.warmup_s},
                "timed_s": p.timed_s,
                "peak_rss_mb": {"total": p.peak_rss_mb, "jvm": p.jvm_rss_mb},
                "samples_s": p.workload.samples,
                "tail_percentile": stats.tail_percentile(len(p.workload.samples)) if p.workload.samples else None,
                "spans": span_summary(p),
                "span_records": [asdict(s) for s in p.tracer.spans],
            }
            for p in phases
        ],
        "result": result,
    }
    return result, sidecar


def write_sidecar(out_dir: str, sidecar: dict) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{sidecar['workload']}-seed{sidecar['seed']}-trace{int(sidecar['trace'])}.json"
    )
    with open(path, "w") as f:
        json.dump(sidecar, f, indent=1, default=str)
    return path


def clean_stale(work_root: str) -> None:
    """Remove scratch directories of runs whose process is gone."""
    if not os.path.isdir(work_root):
        return
    for d in os.listdir(work_root):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work_root, d), ignore_errors=True)

