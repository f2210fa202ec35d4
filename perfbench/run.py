"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints one JSON detail record (set-up
phases, per-operation medians, the tail percentile) and, as the last line
of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything the
run writes stays under ``.perfbench/`` in the current directory; traced
runs also leave their spans there.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
PROGRAM = "prod_data_pipeline_spark"


def configure_env(work: str) -> None:
    """Confine the program's scratch files to ``work`` and let Spark's
    Python workers import the program from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # The program runs with its own default heap; reliable checkpoints
    # would land outside the per-run root.
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])
    sys.path[:0] = [ROOT]


def stop_spark() -> None:
    """Stop the Spark context and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PROGRAM)):
        print(f"perfbench: no {PROGRAM}/ in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    import harness  # noqa: E402  (needs nothing from the program yet)

    if args.workload not in harness.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        record = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), work, T0)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    tracer = record.pop("tracer")
    if tracer is not None:
        spans = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans, origin=T0)
        record["spans_file"] = os.path.relpath(spans, ROOT)
    metrics = record.pop("metrics")
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
