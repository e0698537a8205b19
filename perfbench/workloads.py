"""The workloads, written against the package's public functions.

Every call into a module of the package sits inside a tracer span named
``<module>.<function>``; the tracer is a no-op when tracing is off.

A *request* is one consumer a user asks for: its plan authoring (the
builder call, including any jobs the builder runs while it is built), its
execution, and the export of its result through ``io.write_csv`` or
``io.write_jsonl``. Execution happens inside the write call, because every
plan is lazy.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass
from unittest import mock

from multi_report_etl_pipeline_spark import domain, io, reports, staging
from multi_report_etl_pipeline_spark.queries import all_queries, reference

REPORT_INPUTS = {
    "report_mortgage_portfolio": (
        "clean_accounts", "clean_contacts_primary", "clean_contacts_field"),
    "report_restructuring_pipeline": (
        "clean_accounts", "clean_contacts_primary", "clean_contacts_field",
        "clean_contacts_restructure"),
    "report_commercial_promises": (
        "clean_accounts", "clean_contacts_primary", "clean_contacts_promise"),
}
QUALITY = (
    "quality_view_counts",
    "quality_duplicate_operations",
    "quality_null_keys",
    "quality_date_parse_failures",
)
CONTACT_VIEWS = (
    "clean_contacts_primary",
    "clean_contacts_field",
    "clean_contacts_promise",
    "clean_contacts_restructure",
)
CORPUS = (
    "docs_curation_pipeline",
    "docs_exact_dedup",
    "docs_minhash_near_dup",
    "docs_tfidf_top_terms",
    "docs_dhash_near_dup",
    "emb_int8_topk",
    "emb_ivf_indexed_topk",
    "emb_cosine_topk",
)
REGISTRY = all_queries()


@dataclass
class Request:
    name: str
    latency: float
    path: str
    fmt: str
    schema: object


@dataclass
class Iteration:
    wall: float
    requests: list[Request]
    start_epoch: float
    end_epoch: float


@dataclass
class Context:
    spark: object
    tracer: object
    data_dir: str
    out_dir: str


@contextlib.contextmanager
def _tmpdir_not_shm():
    """materialize_staging prefers /dev/shm for its scratch table; point it
    at the temp dir (inside the benchmark's work dir) instead, so the
    benchmark writes only inside its checkout."""
    real = os.path.isdir
    with mock.patch("os.path.isdir", lambda p: False if p == "/dev/shm" else real(p)):
        yield


def _export(ctx: Context, name: str, df, fmt: str, t0: float) -> Request:
    path = os.path.join(ctx.out_dir, name)
    if fmt == "csv":
        with ctx.tracer.span("io.write_csv", name, "export"):
            io.write_csv(df, path, single_file=True)
    else:
        with ctx.tracer.span("io.write_jsonl", name, "export"):
            io.write_jsonl(df, path)
    latency = time.perf_counter() - t0
    return Request(name, latency, path, fmt, df.schema)


def _report(ctx: Context, name: str, views: dict) -> Request:
    t0 = time.perf_counter()
    with ctx.tracer.span(f"reports.{name}", name):
        df = getattr(reports, name)(*(views[v] for v in REPORT_INPUTS[name]))
    return _export(ctx, name, df, "csv", t0)


def _registry(ctx: Context, module: str, name: str, fmt: str) -> Request:
    t0 = time.perf_counter()
    with ctx.tracer.span(f"queries.{module}.{name}", name):
        df = REGISTRY[name].fn(ctx.spark, ctx.data_dir)
    return _export(ctx, name, df, fmt, t0)


def _timed(body):
    """Run one iteration body, returning an Iteration with its wall time."""
    start_epoch, t0 = time.time(), time.perf_counter()
    requests = body()
    return Iteration(time.perf_counter() - t0, requests, start_epoch, time.time())


def report_pipeline(ctx: Context) -> Iteration:
    """The reference run, lazy: raw parquet -> domain -> staging views ->
    3 reports + 4 quality probes -> 7 CSV files."""
    spark, d, tr = ctx.spark, ctx.data_dir, ctx.tracer

    def body():
        with tr.span("io.read_table", "staging"):
            orders = io.read_table(spark, d, "orders")
            lineitem = io.read_table(spark, d, "lineitem")
        with tr.span("domain.stg_accounts_df", "staging"):
            accounts = domain.stg_accounts_df(orders)
        with tr.span("domain.stg_activities_df", "staging"):
            activities = domain.stg_activities_df(lineitem, orders)
        with tr.span("staging.register_staging_views", "staging"):
            views = staging.register_staging_views(spark, accounts, activities)
        out = [_report(ctx, name, views) for name in REPORT_INPUTS]
        out += [_registry(ctx, "reference", name, "csv") for name in QUALITY]
        return out

    return _timed(body)


def corpus_curation(ctx: Context) -> Iteration:
    """Eight curation and retrieval operators, each exported as JSON lines."""

    def body():
        return [_registry(ctx, "llm_ops", name, "jsonl") for name in CORPUS]

    return _timed(body)


def staging_probe(ctx: Context) -> dict[str, float]:
    """Traced runs only, outside the timed iteration: execute the five lazy
    staging views once each (noop sink) and count the contact views'
    survivor rows. In the lazy posture each consumer recomputes this work."""
    spark, d, tr = ctx.spark, ctx.data_dir, ctx.tracer
    orders = io.read_table(spark, d, "orders")
    views = staging.register_staging_views(
        spark,
        domain.stg_accounts_df(orders),
        domain.stg_activities_df(io.read_table(spark, d, "lineitem"), orders),
    )
    t0 = time.perf_counter()
    with tr.span("staging.probe_exec", "staging_probe", "exec"):
        for df in views.values():
            df.write.format("noop").mode("overwrite").save()
    exec_s = time.perf_counter() - t0
    with tr.span("staging.probe_count", "staging_probe", "count"):
        rows = sum(views[v].count() for v in CONTACT_VIEWS)
    return {"exec_s": exec_s, "survivor_rows": float(rows)}


def materialize_probe(ctx: Context) -> float:
    """Traced runs of the lazy pipeline only, outside the timed iteration:
    time the serving posture's staging artifact build, then drop the
    artifact so later iterations stay lazy."""
    t0 = time.perf_counter()
    with ctx.tracer.span("queries.reference.materialize_staging", "staging_probe", "materialize"):
        with _tmpdir_not_shm():
            reference.materialize_staging(ctx.spark, ctx.data_dir)
    elapsed = time.perf_counter() - t0
    reference.clear_materialized_staging(ctx.data_dir)
    return elapsed


WORKLOADS = {
    "report_pipeline": report_pipeline,
    "corpus_curation": corpus_curation,
}


def request_names(workload: str) -> list[str]:
    if workload == "corpus_curation":
        return list(CORPUS)
    return list(REPORT_INPUTS) + list(QUALITY)
