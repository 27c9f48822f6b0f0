"""Benchmark for the KG pipeline: one workload per run, or all three.

Run from the repository root::

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that gives the per-layer metrics. Every metric is
printed as ``name = value unit``; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. The
exit code is nonzero when any correctness check fails. Workload sizes,
session settings and the metric map are in README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

PACKAGE = "threat_intelligence_knowledge_graph_spark"
WORKLOAD_NAMES = ("build", "increment", "query")
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "class_p50_ms": "ms",
    "warehouse_mb": "MB",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "ingest.read_s": "s",
    "ingest.rows_in": "count",
    "ingest.rows_quarantined": "count",
    "kernel.turns_per_s_1core": "turns/s",
    "extraction.self_s": "s",
    "extraction.task_busy_s": "s",
    "extraction.task_skew": "ratio",
    "extraction.exchange_bytes": "B",
    "extraction.docs": "count",
    "extraction.records_out": "count",
    "extraction.op_share": "ratio",
    "triples.nodes_self_s": "s",
    "triples.edges_self_s": "s",
    "triples.triples_self_s": "s",
    "triples.shuffle_bytes": "B",
    "triples.dedup_ratio": "ratio",
    "triples.nodes_out": "count",
    "triples.edges_out": "count",
    "triples.triples_out": "count",
    "tableio.overwrite_s": "s",
    "tableio.merge_s": "s",
    "tableio.commits": "count",
    "tableio.bytes_written": "B",
    "tableio.files_written": "count",
    "tableio.write_amp": "ratio",
    "tableio.read_s": "s",
    "tableio.files_per_scan": "count",
    "pipeline.audit_s": "s",
    "pipeline.counts_s": "s",
    "pipeline.slot_busy_share": "ratio",
    "pipeline.spark_jobs": "count",
    "pipeline.gc_s": "s",
    "pipeline.spill_bytes": "B",
    "graph_queries.point_p50_ms": "ms",
    "graph_queries.aggregate_p50_ms": "ms",
    "graph_queries.join_p50_ms": "ms",
    "graph_queries.rows_scanned_per_row_returned": "ratio",
    "graph_queries.jobs_per_query": "count",
    "cypher_lite.translate_ms": "ms",
    "cypher_lite.exec_p50_ms": "ms",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "host.cotenant_cpu_pct": "%",
    "host.steal_cpu_pct": "%",
}

# Printed and kept in the report, but not in BENCHMARK.json's per-layer
# list: neither listed workload runs an increment, so there they would
# read a constant 0.
INCREMENTAL_LAYER = {
    "incremental.antijoin_s": "s",
    "incremental.replay_drop_share": "ratio",
}


def measure(
    ctx, wl, state, seconds: float | None, min_ops: int = 0, max_ops: int | None = None
) -> list:
    """Closed loop: the next operation starts when the previous one ends,
    until ``seconds`` have passed, the workload's round of operations is
    complete and at least ``min_ops`` have run; or until ``max_ops``
    have run."""
    ops = []
    deadline = None if seconds is None else time.perf_counter() + seconds
    while (
        deadline is None
        or time.perf_counter() < deadline
        or len(ops) % wl.round_size
        or len(ops) < min_ops
    ) and (max_ops is None or len(ops) < max_ops):
        op = wl.op(ctx, state)
        if op is None:
            break
        ops.append(op)
    return ops


def class_medians_ms(ops, default_cls: str) -> dict[str, float]:
    """Median latency per operation class (query: point, aggregate, join,
    cypher; build and increment have one class each)."""
    by_cls: dict[str, list[float]] = {}
    for op in ops:
        by_cls.setdefault(op.detail.get("cls", default_cls), []).append(op.latency_s)
    return {c: 1000.0 * statistics.median(v) for c, v in sorted(by_cls.items())}


def layer_metrics(tracer, groups, counts, own_op: str, nproc: int) -> dict[str, float]:
    """Layer metrics from the traced spans, their Spark task metrics (by
    job group) and the boundary counts. Pipeline layers are per pipeline
    execution (a build, a batch, or the build committing the query graph),
    query layers per query, and audit, counts, reads and anti-joins per
    call; jobs, GC, spill and slot use are per operation of the workload."""
    from spans import GroupMetrics, self_times

    spans = tracer.spans
    st = self_times(spans)
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    pipes = [s for s in spans if s.name in ("op.build", "op.batch", "op.commit")]
    n_pipe = max(1, len(pipes))
    pipe_wall = sum(s.duration for s in pipes)
    own = [s for s in spans if s.name == own_op]
    n_own = max(1, len(own))
    queries = [s for s in spans if s.name == "op.query"]

    def self_sum(name: str) -> float:
        return sum(st[s.id] for s in spans if s.name == name)

    def mean_self(name: str) -> float:
        vals = [st[s.id] for s in spans if s.name == name]
        return sum(vals) / len(vals) if vals else 0.0

    def med_ms(durations) -> float:
        return 1000.0 * statistics.median(durations) if durations else 0.0

    def task(selected) -> GroupMetrics:
        gm = GroupMetrics()
        for s in selected:
            if s.group in groups:
                gm.add(groups[s.group])
        return gm

    def subtree(roots) -> list:
        out, todo = [], list(roots)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s.id, ()))
        return out

    def named(*names) -> list:
        return [s for s in spans if s.name in names]

    ext = task(named("extraction.extract_graph_records_fused"))
    tri = task(named("triples.build_nodes", "triples.build_edges", "triples.build_triples"))
    own_gm = task(subtree(own))
    own_wall = sum(s.duration for s in own)
    q_gm = task(subtree(queries))
    rows_returned = sum(s.attrs.get("rows", 0) for s in queries)
    reads = [s.attrs.get("files", 0) for s in named("tableio.read")]
    out_rows = counts.get("triples.nodes_out", 0) + counts.get("triples.edges_out", 0)

    def per_pipe(key: str) -> float:
        return counts.get(key, 0) / n_pipe

    def cls_p50(cls: str) -> float:
        return med_ms([s.duration for s in queries if s.attrs.get("cls") == cls])

    return {
        "ingest.read_s": self_sum("ingest.read_transcripts") / n_pipe,
        "ingest.rows_in": per_pipe("ingest.rows_in"),
        "ingest.rows_quarantined": per_pipe("ingest.rows_quarantined"),
        "extraction.self_s": self_sum("extraction.extract_graph_records_fused") / n_pipe,
        "extraction.task_busy_s": ext.run_ms / 1000.0 / n_pipe,
        "extraction.task_skew": ext.task_skew(),
        "extraction.exchange_bytes": ext.shuffle_write_bytes / n_pipe,
        "extraction.docs": per_pipe("extraction.docs"),
        "extraction.records_out": per_pipe("extraction.records_out"),
        "extraction.op_share": self_sum("extraction.extract_graph_records_fused") / pipe_wall
        if pipe_wall else 0.0,
        "triples.nodes_self_s": self_sum("triples.build_nodes") / n_pipe,
        "triples.edges_self_s": self_sum("triples.build_edges") / n_pipe,
        "triples.triples_self_s": self_sum("triples.build_triples") / n_pipe,
        "triples.shuffle_bytes": tri.shuffle_write_bytes / n_pipe,
        "triples.dedup_ratio": counts.get("extraction.records_out", 0) / out_rows if out_rows else 0.0,
        "triples.nodes_out": per_pipe("triples.nodes_out"),
        "triples.edges_out": per_pipe("triples.edges_out"),
        "triples.triples_out": per_pipe("triples.triples_out"),
        "tableio.overwrite_s": self_sum("tableio.overwrite") / n_pipe,
        "tableio.merge_s": self_sum("tableio.merge") / n_pipe,
        "tableio.commits": per_pipe("tableio.commits"),
        "tableio.bytes_written": per_pipe("tableio.bytes_written"),
        "tableio.files_written": per_pipe("tableio.files_written"),
        "tableio.write_amp": counts.get("tableio.bytes_written", 0)
        / max(counts.get("tableio.live_growth", 0), 1),
        "tableio.read_s": mean_self("tableio.read"),
        "tableio.files_per_scan": sum(reads) / len(reads) if reads else 0.0,
        "pipeline.audit_s": mean_self("pipeline.audit_graph_tables"),
        "pipeline.counts_s": mean_self("pipeline.counts"),
        "pipeline.slot_busy_share": own_gm.run_ms / 1000.0 / (own_wall * nproc) if own_wall else 0.0,
        "pipeline.spark_jobs": own_gm.jobs / n_own,
        "pipeline.gc_s": own_gm.gc_ms / 1000.0 / n_own,
        "pipeline.spill_bytes": own_gm.spill_bytes / n_own,
        "incremental.antijoin_s": mean_self("incremental.antijoin"),
        "incremental.replay_drop_share": counts.get("incremental.rows_dropped", 0)
        / counts["incremental.rows_in"] if counts.get("incremental.rows_in") else 0.0,
        "graph_queries.point_p50_ms": cls_p50("point"),
        "graph_queries.aggregate_p50_ms": cls_p50("aggregate"),
        "graph_queries.join_p50_ms": cls_p50("join"),
        "graph_queries.rows_scanned_per_row_returned": q_gm.input_records / rows_returned
        if rows_returned else 0.0,
        "graph_queries.jobs_per_query": q_gm.jobs / len(queries) if queries else 0.0,
        "cypher_lite.translate_ms": med_ms([s.duration for s in named("cypher_lite.translate")]),
        "cypher_lite.exec_p50_ms": med_ms([s.duration for s in named("cypher_lite.exec")]),
    }


def run_workload(args, root: str) -> int:
    import gen
    import host
    import workloads
    from spans import Tracer, read_event_log

    wl = {"build": workloads.Build, "increment": workloads.Increment,
          "query": workloads.Query}[args.workload]()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    base = os.path.join(root, ".perfbench-work")
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "events") if args.trace else None
    nproc = len(os.sched_getaffinity(0))
    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "sizes": wl.sizes,
                    "session": host.session_settings(root, work, event_dir)}
    checks: list[tuple[str, bool, str]] = []
    metrics: dict[str, float] = {}
    try:
        with host.Contention() as cont:
            spark, start_s = host.start_session(root, work, event_dir)
            try:
                ctx = workloads.Ctx(spark=spark, work=work, seed=args.seed)
                tracer = Tracer(tag, spark.sparkContext) if args.trace else None
                t0 = time.perf_counter()
                ctx.tracer = tracer
                fixture = wl.prepare(ctx)
                ctx.tracer = None
                report["prepare_s"] = time.perf_counter() - t0
                setup_times = []
                for rep in range(SETUP_REPS):
                    t0 = time.perf_counter()
                    state = wl.setup(ctx, rep, fixture)
                    setup_times.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                wl.warmup(ctx, state)
                report["warmup_s"] = time.perf_counter() - t0
                wl.begin(ctx, state)
                # the traced run's untraced phase: half the window, one round
                seconds, min_ops = ((args.seconds / 2, wl.round_size) if args.trace
                                    else (args.seconds, wl.min_ops))
                host.reset_peak_rss()
                ops = measure(ctx, wl, state, seconds, min_ops)
                peak_rss = host.tree_peak_rss_bytes()
                warehouse = wl.warehouse_bytes(state, ops)
                if args.trace:
                    untraced_triples, untraced_files = wl.final_graph(state, ops)
                    ctx.tracer = tracer
                    wl.begin(ctx, state)
                    traced = measure(ctx, wl, state, None, max_ops=len(ops))
                    checks.extend(wl.trace_extra(ctx, state, traced))
                    with tracer.span("kernel.extract_document"):
                        kernel_tps = workloads.kernel_probe(wl.kernel_docs(state))
                    ctx.tracer = None
                report["corpus_digest"] = gen.digest(state.get("rows") or state["base_rows"])
                lat = [op.latency_s for op in ops]
                report["setup_times_s"] = setup_times
                report["op_latencies_s"] = lat
                report["tail"] = host.tail_percentile(lat)
                report["op_p50_ms"] = 1000.0 * statistics.median(lat)
                report["class_medians_ms"] = class_medians_ms(ops, wl.name)
                metrics = {
                    "setup_s": statistics.median(setup_times),
                    "items_per_s": sum(op.items for op in ops) / sum(lat),
                    "class_p50_ms": statistics.fmean(report["class_medians_ms"].values()),
                    "warehouse_mb": warehouse / 1e6,
                    "peak_rss_mb": peak_rss / 1e6,
                }
                if args.trace:
                    traced_triples, traced_files = wl.final_graph(state, traced)
                    checks.append(("traced-triples==untraced", traced_triples == untraced_triples,
                                   ""))
                    checks.append(("traced-files==untraced", traced_files == untraced_files,
                                   f"{traced_files} vs {untraced_files}"))
                    ops = traced
                checks.extend(_safe_checks(wl, ctx, state, ops))
            finally:
                host.stop_session(spark)
        report["contention"] = cont.as_dict()
        if args.trace:
            t_traced = sum(op.latency_s for op in traced)
            t_plain = sum(lat)
            layers = layer_metrics(tracer, read_event_log(event_dir), ctx.counts,
                                   wl.op_span, nproc)
            layers.update({
                "session.start_s": start_s,
                "kernel.turns_per_s_1core": kernel_tps,
                "trace.overhead_s": t_traced - t_plain,
                "trace.overhead_share": (t_traced - t_plain) / t_plain,
                "host.cotenant_cpu_pct": cont.cotenant_cpu_pct,
                "host.steal_cpu_pct": cont.steal_cpu_pct,
            })
            tracer.dump(os.path.join(results, f"{tag}.spans.jsonl"))
            report["end_to_end_untraced_phase"] = metrics
            if ctx.counts.get("incremental.rows_in"):
                report["incremental_layer"] = {k: layers[k] for k in INCREMENTAL_LAYER}
            metrics = {k: layers[k] for k in PER_LAYER}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    failed = sum(1 for _n, ok, _d in checks if not ok)
    attempted = len(ops) + len(checks)
    report.update({"checks": checks, "metrics": metrics, "attempted": attempted,
                   "failed": failed})
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")
    c = report["contention"]
    print(f"contention: cotenant_cpu_pct={c['cotenant_cpu_pct']} "
          f"steal_cpu_pct={c['steal_cpu_pct']} loadavg_1m={c['loadavg_1m']} "
          f"cpu_capacity={c['cpu_capacity']}")
    print(f"op_p50_ms = {report['op_p50_ms']:.6g} ms (n={len(lat)})")
    if report["tail"]:
        level, value = report["tail"]
        print(f"op_p{level:g}_ms = {1000 * value:.6g} ms (n={len(lat)})")
    for cls, value in report["class_medians_ms"].items():
        print(f"{cls}_p50_ms = {value:.6g} ms")
    print(f"failed_ops_share = {failed / attempted:.6g} ({failed}/{attempted})")
    for name, unit in units.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    for name, value in report.get("incremental_layer", {}).items():
        print(f"{name} = {value:.6g} {INCREMENTAL_LAYER[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


def _safe_checks(wl, ctx, state, ops):
    """A check that raises counts as a failed check."""
    try:
        return wl.checks(ctx, state, ops)
    except Exception as exc:  # noqa: BLE001 - reported as a failed check
        import traceback

        traceback.print_exc()
        return [(f"{wl.name}-checks", False, f"{type(exc).__name__}: {exc}")]


def run_all(args) -> int:
    """Every workload in its own process; nonzero exit if any fails."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(f"== {name}")
        print("\n".join(lines[:-1]))
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        combined["correct"] &= proc.returncode == 0 and result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    return run_workload(args, root)


if __name__ == "__main__":
    sys.exit(main())
