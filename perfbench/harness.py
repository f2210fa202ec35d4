"""Runs one workload: set-up, a check pass, measured passes, metrics.

Untraced runs (``--trace 0``) report the end-to-end metrics.  Traced runs
(``--trace 1``) alternate untraced and traced passes in one process, roll
the traced spans up into per-layer metrics, and report the tracing
overhead.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import stats
from spans import NullTracer, Span, Tracer, self_times
from workloads import QUERY_NAMES, WORKLOADS, Workload

END_TO_END = ("setup_s", "op_p50_s", "op_tail_s", "pass_s", "events_per_s")

NULL = NullTracer()

#: Span name -> per-layer metric; the metric sums the spans' self time
#: over one pass.
LAYER_SPANS = {
    "sources.read_events_ndjson": "sources.read_events_ndjson_s",
    "sources.write_curated": "sources.write_curated_s",
    "sources.write_json_report": "sources.write_json_report_s",
    "pipeline.curate": "pipeline.curate_self_s",
    "pipeline.dq_profile": "pipeline.dq_profile_s",
    "plans.build": "plans.build_s",
    "spark.sql": "spark.sql_s",
    "spark.execute": "spark.execute_s",
    "operators.near_dup_pairs": "operators.near_dup_pairs_s",
    "operators.tokens": "operators.tokens_s",
    "operators.distinct_tokens": "operators.distinct_tokens_s",
}

#: Per-operation Spark work: metric -> (span name, count field).  The
#: metric averages the span's count, its descendants' included, over the
#: spans of that name in one pass.
COUNT_SPANS = {
    "pipeline.jobs_per_date": ("pipeline.curate", "jobs"),
    "pipeline.tasks_per_date": ("pipeline.curate", "tasks"),
    "plans.eager_jobs_per_query": ("plans.build", "jobs"),
    "spark.jobs_per_query": ("spark.execute", "jobs"),
    "spark.stages_per_query": ("spark.execute", "stages"),
    "spark.tasks_per_query": ("spark.execute", "tasks"),
}

#: Traced runs alternate untraced and traced passes, U T U T U, and go on
#: in pairs while time is left, so every traced pass has an untraced pass
#: on either side of it.
TRACED_MIN_PASSES = 5


def run_pass(ops, pass_no: int, tracer: Tracer | None, failures: dict) -> tuple[float, list]:
    """Run every op once, traced when ``tracer`` is given.  Returns the
    pass wall time and (op name, latency, succeeded) per op."""
    lats = []
    t_pass = time.perf_counter()
    for op in ops:
        t = time.perf_counter()
        try:
            if tracer is None:
                op.run(NULL)
            else:
                with tracer.span(f"op:{op.name}", op_id=len(tracer.spans)) as s:
                    s.pass_no = pass_no
                    op.run(tracer)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            failures[op.name] = traceback.format_exc(limit=3).strip().splitlines()[-1]
            traceback.print_exc(file=sys.stderr)
            lats.append((op.name, time.perf_counter() - t, False))
            continue
        lats.append((op.name, time.perf_counter() - t, True))
    wall = time.perf_counter() - t_pass
    if tracer is not None:
        tracer.count_jobs()  # outside the pass wall: it waits for Spark's listener bus
    return wall, lats


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size (VmHWM) of the Spark JVM."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    status = f"/proc/{proc.pid}/status" if proc is not None else ""
    if not os.path.exists(status):
        return 0.0
    with open(status) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(name: str, seed: int, seconds: float, traced: bool, work: str, t0: float) -> dict:
    """Run workload ``name`` and return its result record.  ``t0`` is the
    process start; everything up to the first timed operation, except the
    oracle computations of the check pass, counts as set-up."""
    from prod_data_pipeline_spark.session import get_spark

    tracer = Tracer() if traced else None
    tr = tracer or NULL
    phases: dict = {}
    wl_cls = WORKLOADS[name]

    t = time.perf_counter()
    phases["imports"] = t - t0
    with tr.span("session.get_spark"):
        spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    phases["session"] = time.perf_counter() - t
    if tracer is not None:
        tracer.sc = spark.sparkContext

    wl: Workload = wl_cls(spark, seed, work)
    t = time.perf_counter()
    wl.make_inputs()
    phases["inputs"] = time.perf_counter() - t

    targets = wl.trace_targets() if traced else []
    t = time.perf_counter()
    with (tracer.patch(targets) if traced else nullcontext()):
        with tr.span("setup"):
            wl.setup(tr)
    phases["setup"] = time.perf_counter() - t
    ops = wl.ops()

    # Check pass: every checked op runs once more, untimed, and its output
    # is compared with its oracle.  It is also the last warm-up pass; the
    # oracle computations are benchmark work and do not count as set-up.
    bad: dict[str, str] = {}
    warm, checking = 0.0, 0.0
    check_s: dict[str, float] = {}
    for op in ops:
        if op.result is None:
            continue
        t = time.perf_counter()
        try:
            got = op.result()
            t_got = time.perf_counter()
            reason = op.expect(got)
        except Exception:  # noqa: BLE001 - a failed check is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            reason = traceback.format_exc(limit=3).strip().splitlines()[-1]
            t_got = time.perf_counter()
        warm += t_got - t
        checking += time.perf_counter() - t_got
        check_s[op.name] = t_got - t
        if reason is not None:
            bad[op.name] = reason
    phases["check_pass"] = warm
    phases["check_pass_ops"] = check_s
    phases["oracles"] = checking

    failures: dict[str, str] = {}
    walls, lats, traced_lats = [], [], []
    sequence: list[tuple[bool, float, float]] = []  # (traced, wall, tracer cost)
    t_measure = time.perf_counter()
    phases["to_first_op"] = t_measure - t0
    setup_s = phases["to_first_op"] - phases["oracles"]
    # The op-latency tail is taken at the percentile the minimum number of
    # passes supports, so a faster program, which fits more passes into
    # ``seconds``, is compared at the same percentile.
    untraced_passes = stats.min_passes(len(ops))
    n_tail = untraced_passes * len(ops)
    min_passes = TRACED_MIN_PASSES if traced else untraced_passes
    p = 0
    # A traced run never stops right after a traced pass (odd index).
    while p < min_passes or time.perf_counter() - t_measure < seconds or (traced and p % 2 == 0):
        if traced and p % 2:
            cost = tracer.cost
            with tracer.patch(targets):
                wall, pl = run_pass(ops, p, tracer, failures)
            traced_lats.extend(pl)
            sequence.append((True, wall, tracer.cost - cost))
        else:
            wall, pl = run_pass(ops, p, None, failures)
            walls.append(wall)
            lats.extend(pl)
            sequence.append((False, wall, 0.0))
        p += 1
    measure_s = time.perf_counter() - t_measure

    try:
        bad.update(wl.final_checks())
    except Exception:  # noqa: BLE001 - outputs too broken to check: every op fails
        traceback.print_exc(file=sys.stderr)
        reason = traceback.format_exc(limit=3).strip().splitlines()[-1]
        bad.update({op.name: f"final check raised {reason}" for op in ops})
    for op_name, reason in {**failures, **bad}.items():
        print(f"perfbench: {op_name} FAILED: {reason}", file=sys.stderr)

    attempted = len(lats) + len(traced_lats)
    failed = sum(1 for n, _, ok in lats + traced_lats if not ok or n in bad)
    record = {
        "workload": name,
        "seed": seed,
        "correct": not bad and not failures,
        "attempted": attempted,
        "failed": failed,
        "passes": len(walls),
        "measure_s": measure_s,
        "setup_s": setup_s,
        "phases": phases,
    }
    pass_s = statistics.median(walls)
    pct = stats.tail_percentile(n_tail)
    op_lat = [x for _, x, _ in lats]
    record["tail"] = {"percentile": pct, "samples": len(op_lat)}
    by_op: dict[str, list[float]] = defaultdict(list)
    for n, x, _ in lats:
        by_op[n].append(x)
    record["op_median_s"] = {n: statistics.median(xs) for n, xs in by_op.items()}
    record["failed_ratio"] = failed / attempted
    record["pass_walls"] = walls
    record["op_latencies"] = [(n, x) for n, x, _ in lats]
    if not traced:
        record["metrics"] = dict(zip(END_TO_END, [
            (setup_s, "s"),
            (statistics.median(op_lat), "s"),
            (stats.nearest_rank(op_lat, pct), "s"),
            (pass_s, "s"),
            (sum(op.records for op in ops) / pass_s, "1/s"),
        ]))
    else:
        record["trace_overhead"] = trace_overhead(sequence)
        record["metrics"] = layer_metrics(
            tracer, wl, spark, phases, record["trace_overhead"]["bookkeeping_s"]
        )
        record["rollup"] = rollup(tracer.spans)
    record["tracer"] = tracer
    return record


def trace_overhead(sequence: list[tuple[bool, float, float]]) -> dict:
    """Tracing overhead two ways: the tracer's own bookkeeping time per
    traced pass, and each traced pass's wall minus the mean of the untraced
    passes on either side of it (linear warm-up drift cancels).  The wall
    difference counts as resolved only when it exceeds the spread of the
    untraced passes' successive differences."""
    diffs = [
        sequence[i][1] - (sequence[i - 1][1] + sequence[i + 1][1]) / 2
        for i in range(1, len(sequence) - 1) if sequence[i][0]
    ]
    untraced = [w for traced, w, _ in sequence if not traced]
    noise = statistics.median(abs(b - a) for a, b in zip(untraced, untraced[1:]))
    wall_s = statistics.median(diffs)
    return {
        "bookkeeping_s": statistics.median(c for traced, _, c in sequence if traced),
        "wall_s": wall_s,
        "wall_pairs_s": diffs,
        "untraced_step_s": noise,
        "wall_resolved": abs(wall_s) > noise,
    }


def _inclusive(spans: list[Span], field: str) -> dict[int, int]:
    """Own count plus every descendant's, per span."""
    total = {s.sid: getattr(s, field) for s in spans}
    for s in sorted(spans, key=lambda s: -s.sid):  # children have larger ids
        if s.parent is not None:
            total[s.parent] += total[s.sid]
    return total


def per_layer_names() -> list[str]:
    """Every metric ``layer_metrics`` reports, in its order."""
    return [
        "session.get_spark_s", "session.jvm_peak_rss_mb", "trace.bookkeeping_s",
        *LAYER_SPANS.values(),
        *(f"plans.query.{q}_s" for q in QUERY_NAMES),
        *COUNT_SPANS,
        "sources.curated_files_per_date", "sources.curated_bytes_per_raw_byte",
    ]


def layer_metrics(tracer, wl, spark, phases, bookkeeping_s: float) -> dict:
    """Per-layer metrics from the spans of the traced passes."""
    spans = tracer.spans
    selfs = self_times(spans)
    by_id = {s.sid: s for s in spans}
    passes: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.op_id is not None:
            passes[by_id[s.op_id].pass_no].append(s)

    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (phases["session"], "s"),
        "session.jvm_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
        "trace.bookkeeping_s": (bookkeeping_s, "s"),
    }
    for span_name, metric in LAYER_SPANS.items():
        per_pass = [
            sum((selfs[s.sid] for s in ss if s.name == span_name), 0.0) for ss in passes.values()
        ]
        out[metric] = (statistics.median(per_pass), "s")
    for q in QUERY_NAMES:
        per_pass = [
            sum((s.duration for s in ss if s.name == f"op:query:{q}"), 0.0)
            for ss in passes.values()
        ]
        out[f"plans.query.{q}_s"] = (statistics.median(per_pass), "s")
    for metric, (span_name, field) in COUNT_SPANS.items():
        inc = _inclusive(spans, field)
        per_pass = []
        for ss in passes.values():
            hit = [inc[s.sid] for s in ss if s.name == span_name]
            per_pass.append(sum(hit) / len(hit) if hit else 0.0)
        out[metric] = (statistics.median(per_pass), "count")
    layout = wl.layout()
    out["sources.curated_files_per_date"] = (layout["sources.curated_files_per_date"], "count")
    out["sources.curated_bytes_per_raw_byte"] = (
        layout["sources.curated_bytes_per_raw_byte"], "ratio"
    )
    return {name: out[name] for name in per_layer_names()}


def rollup(spans: list[Span]) -> dict:
    """Self time per span name over the whole traced run, and the check
    that each operation's span self times add up to its wall time."""
    selfs = self_times(spans)
    by_name: dict[str, float] = defaultdict(float)
    for s in spans:
        by_name[s.name] += selfs[s.sid]
    op_sum: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.op_id is not None:
            op_sum[s.op_id] += selfs[s.sid]
    residual = max(
        (abs(op_sum[s.sid] - s.duration) for s in spans if s.sid == s.op_id), default=0.0
    )
    return {"self_s": dict(sorted(by_name.items())), "max_op_residual_s": residual}
