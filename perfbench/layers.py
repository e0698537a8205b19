"""Per-layer figures of one traced iteration, and their summary.

Layers are named after the package's modules. Span-derived figures are
sums of span self time; Spark figures come from the jobs, stages and SQL
executions the iteration launched. See perfbench/README.md for what each
metric means and which end-to-end metric it should move.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import collect, self_times, union_length

import workloads as W

# name -> unit, in output order
PER_LAYER = {
    "session.start_s": "s",
    "io.read_author_s": "s",
    "io.scan_bytes": "B",
    "io.export_s": "s",
    "io.export_bytes": "B",
    "staging.author_s": "s",
    "staging.exec_s": "s",
    "staging.materialize_s": "s",
    "staging.survivor_rows": "count",
    "staging.shuffle_write_bytes": "B",
    "staging.spill_bytes": "B",
    "reports.author_s": "s",
    "reports.exec_s": "s",
    "queries.author_s": "s",
    "llm_ops.author_s": "s",
    "llm_ops.exec_s": "s",
    "operators.python_kernel_s": "s",
    "similarity.index_build_s": "s",
    "spark.sql_executions": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.driver_gap_s": "s",
    "host.steal_ratio": "ratio",
    "jvm.heap_peak_mb": "MB",
    "op.scan_time_s": "s",
    "op.exchange_bytes": "B",
    "op.agg_time_s": "s",
    "op.sort_time_s": "s",
    "op.python_time_s": "s",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
}

PROBE = "staging_probe"


def probe(workload: str, ctx, spark, cursor) -> tuple[dict, dict]:
    """Staging figures the timed iteration cannot separate, measured right
    after it with tracing on (outside the timed region)."""
    if workload == "report_pipeline":
        result = W.staging_probe(ctx)
        result["materialize_s"] = W.materialize_probe(ctx)
    else:
        result = {}
    return result, collect(spark, cursor)


def _stage_sums(stages, pred=lambda s: True) -> dict[str, float]:
    sel = [s for s in stages if pred(s)]
    return {
        "tasks": sum(s["tasks"] for s in sel),
        "failed_tasks": sum(s["failed_tasks"] for s in sel),
        "shuffle_write": sum(s["shuffle_write"] for s in sel),
        "shuffle_read": sum(s["shuffle_read"] for s in sel),
        "spill": sum(s["spill"] for s in sel),
        "run_s": sum(s["run_s"] for s in sel),
    }


def iteration_layers(workload, it, spans, store, probed, probe_store, cores, export_bytes,
                     bookkeeping):
    """Per-layer figures of one traced iteration."""
    main = [s for s in spans if s.request != PROBE]
    own = self_times(main)

    def span_sum(pred) -> float:
        return sum(own[s.index] for s in main if pred(s))

    def is_write(s) -> bool:
        return s.name.startswith("io.write_")

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["io.read_author_s"] = span_sum(lambda s: s.name == "io.read_table")
    m["io.export_s"] = span_sum(is_write)
    m["io.export_bytes"] = float(export_bytes)
    m["trace.bookkeeping_s"] = bookkeeping
    m["staging.author_s"] = span_sum(lambda s: s.name.startswith(("domain.", "staging.")))
    m["reports.author_s"] = span_sum(lambda s: s.name.startswith("reports."))
    m["reports.exec_s"] = span_sum(lambda s: is_write(s) and s.request in W.REPORT_INPUTS)
    m["queries.author_s"] = span_sum(lambda s: s.name.startswith("queries.reference.quality_"))
    m["llm_ops.author_s"] = span_sum(lambda s: s.name.startswith("queries.llm_ops."))
    m["llm_ops.exec_s"] = span_sum(lambda s: is_write(s) and s.request in W.CORPUS)
    m["similarity.ivf_query_author_s"] = span_sum(
        lambda s: s.name == "queries.llm_ops.emb_ivf_indexed_topk")

    stages, execs = store["stages"], store["executions"]
    tot = _stage_sums(stages)
    m["spark.sql_executions"] = float(len(execs))
    m["spark.jobs"] = float(len(store["jobs"]))
    m["spark.tasks"] = float(tot["tasks"])
    m["spark.failed_tasks"] = float(tot["failed_tasks"])
    m["spark.shuffle_write_bytes"] = float(tot["shuffle_write"])
    m["spark.shuffle_read_bytes"] = float(tot["shuffle_read"])
    m["spark.spill_bytes"] = float(tot["spill"])
    m["spark.executor_run_s"] = tot["run_s"]
    m["spark.core_busy_ratio"] = tot["run_s"] / (it.wall * cores)
    busy = union_length(
        [(s["start"], s["end"]) for s in stages if s["start"] and s["end"]],
        it.start_epoch, it.end_epoch)
    m["spark.driver_gap_s"] = max(0.0, it.wall - busy)
    for e in execs:
        for key in ("op.scan_time_s", "io.scan_bytes", "op.exchange_bytes",
                    "op.agg_time_s", "op.sort_time_s"):
            m[key] += e[key]
        m["operators.python_kernel_s"] += e["op.python_run_s"]
        m["op.python_time_s"] += e["op.python_start_s"] + e["op.python_init_s"]

    if workload == "report_pipeline":
        st = _stage_sums(probe_store["stages"],
                         lambda s: s["desc"] == f"{workload}:{PROBE}:exec")
        m["staging.exec_s"] = probed["exec_s"]
        m["staging.materialize_s"] = probed["materialize_s"]
    else:
        st = _stage_sums([])
    m["staging.survivor_rows"] = probed.get("survivor_rows", 0.0)
    m["staging.shuffle_write_bytes"] = float(st["shuffle_write"])
    m["staging.spill_bytes"] = float(st["spill"])
    return m


def summarise(traced, walls, session_s, warm_spans) -> dict:
    """The first traced iteration's figures (the position the end-to-end
    run times), plus set-up figures and the tracing overhead: for each
    untraced iteration, the mean of the traced iterations on either side
    of it minus its own wall (so a steady speed-up from one iteration to
    the next, as the JIT warms, cancels), and the median of those gaps.
    ``walls`` holds every iteration's wall time, traced ones at even
    positions."""
    out = dict(traced[0])
    out["session.start_s"] = session_s
    # The first use of emb_ivf_indexed_topk (in the warm-up) builds the IVF
    # centroids and index; later uses only author the query.
    first = [s for s in warm_spans if s.name == "queries.llm_ops.emb_ivf_indexed_topk"]
    if first:
        out["similarity.index_build_s"] = max(
            0.0, first[0].end - first[0].start - out["similarity.ivf_query_author_s"])
    pairs = [(walls[i], (walls[i - 1] + walls[i + 1]) / 2) for i in range(1, len(walls) - 1, 2)]
    out["trace.untraced_run_s"] = statistics.median(u for u, _ in pairs)
    out["trace.run_s"] = statistics.median(t for _, t in pairs)
    out["trace.overhead_s"] = statistics.median(t - u for u, t in pairs)
    for k, v in out.items():
        print(f"  {k} = {v:.6g} {PER_LAYER.get(k, 's')}", flush=True)
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER.items()}


def write_results(out_dir, args, spans, traced, metrics) -> str:
    """Spans (with self time), per-iteration figures and the summary."""
    os.makedirs(out_dir, exist_ok=True)
    own = self_times(spans)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "spans": [
                {"name": s.name, "request": s.request, "iteration": s.iteration,
                 "parent": s.parent, "start": s.start, "end": s.end,
                 "self_s": own[s.index]}
                for s in spans
            ],
            "iterations": traced,
            "metrics": metrics,
        }, fh, indent=1)
    return path
