"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_render --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). A fuller
report goes to ``perfbench/out/<workload>-seed<n>-trace<t>.json``. Exit code
1 with a result line means a correctness check failed or an operation raised;
2 means input generation failed; any other error exits non-zero with a
traceback and no result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, "out")
DRIVER_MEM = "1g"  # the session factory's default (48g) exceeds small hosts' RAM


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["tile_render", "pip_join", "ingest_query"],
                    help="BENCHMARK.json declares tile_render and ingest_query; pip_join runs by hand")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    # Spark's Python workers import the engine by module name, so the
    # repository root must be on their PYTHONPATH (the session factory only
    # checks the driver's sys.path); scratch files stay inside the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (Spark's launcher and the driver): temp files in the work
    # dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path.insert(0, REPO)

    from perfbench import runner

    # a terminated run still stops its JVM and workers and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    runner.clean_stale(WORK_ROOT)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        result, sidecar = runner.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    except runner.SetupFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    path = runner.write_sidecar(OUT_DIR, sidecar)
    ops = sidecar["ops_failed_frac"]
    for k, m in result["metrics"].items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} ops_failed_frac = {ops:.6g} ratio; report: {os.path.relpath(path, REPO)}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
