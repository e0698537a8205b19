"""Calibrate the Spark SQL metrics the per-layer breakdown uses.

    python3 perfbench/calibrate.py

Each metric gets a small A/B in one local Spark session: arm B adds the
work the metric claims to time or count, and nothing else, and the
metric's change is compared with the change of the stages' executor run
time (for times) or with an independent count (for bytes). A metric is *calibrated*
when its A/B delta tracks the reference within 50% and its total does not
exceed the executor run time of the stages it sits in (5% slack for
rounding); otherwise it is
*uncalibrated* and the breakdown must not add it up as a share of wall
time. Results print as a Markdown table (recorded in perfbench/README.md).
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    sys.path.insert(0, HERE)
    import run as bench  # launch environment helpers

    work = os.path.join(ROOT, ".perfbench_work", f"calibrate-{os.getpid()}")
    bench.set_launch_env(work)
    import shutil

    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.session import get_spark
    from spans import StoreCursor, collect

    spark = get_spark(app_name="perfbench-calibrate", extra_conf=bench.launch_conf(work))
    cursor = StoreCursor()
    rows = []

    def measure(fn, reps: int = 3) -> dict:
        """Median over reps of (executor run s, SQL-metric totals, stage
        shuffle-write bytes) of the jobs fn launches."""
        out = []
        for _ in range(reps):
            collect(spark, cursor)
            fn()
            st = collect(spark, cursor)
            tot = {k: sum(e[k] for e in st["executions"]) for k in st["executions"][0]
                   if k not in ("id", "desc")}
            tot["op.python_time_s"] = tot["op.python_start_s"] + tot["op.python_init_s"]
            tot["run_s"] = sum(s["run_s"] for s in st["stages"])
            tot["stage_shuffle_write"] = sum(s["shuffle_write"] for s in st["stages"])
            out.append(tot)
        return {k: sorted(o[k] for o in out)[len(out) // 2] for k in out[0]}

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    def ab(metric: str, key: str, a, b, ref: str = "run_s") -> None:
        ma, mb = measure(a), measure(b)
        d_metric, d_ref = mb[key] - ma[key], mb[ref] - ma[ref]
        ratio = d_metric / d_ref if d_ref else float("nan")
        within = max(ma[key] / ma["run_s"] if ma["run_s"] else 0, mb[key] / mb["run_s"] if mb["run_s"] else 0)
        ok = 0.5 <= ratio <= 1.5 and (ref != "run_s" or within <= 1.05)
        rows.append((metric, f"{ma[key]:.3g} -> {mb[key]:.3g}", f"{ma[ref]:.3g} -> {mb[ref]:.3g}",
                     f"{ratio:.2f}", f"{within:.2f}" if ref == "run_s" else "-",
                     "calibrated" if ok else "uncalibrated"))

    def file_bytes(path: str) -> int:
        return sum(os.path.getsize(os.path.join(path, f))
                   for f in os.listdir(path) if f.endswith(".parquet"))

    try:
        data = os.path.join(work, "cal")
        base = spark.range(0, 4_000_000, numPartitions=4).select(
            F.col("id"), (F.col("id") * 7919 % 1000003).alias("k"), F.rand(7).alias("v"))
        base.write.mode("overwrite").parquet(os.path.join(data, "a"))
        base.union(base).write.mode("overwrite").parquet(os.path.join(data, "b"))
        small = spark.read.parquet(os.path.join(data, "a"))
        big = spark.read.parquet(os.path.join(data, "b"))

        # Arm B adds only the operator under test to arm A's plan, so the
        # change in executor run time is that operator's cost.
        ab("op.scan_time_s", "op.scan_time_s",
           noop(small.select("id")), noop(small.select("id", "k", "v")))
        ma, mb = measure(noop(small)), measure(noop(big))
        fa, fb = file_bytes(os.path.join(data, "a")), file_bytes(os.path.join(data, "b"))
        rows.append(("io.scan_bytes", f"{ma['io.scan_bytes']:.3g} -> {mb['io.scan_bytes']:.3g}",
                     f"files {fa:.3g} -> {fb:.3g}",
                     f"{(mb['io.scan_bytes'] - ma['io.scan_bytes']) / (fb - fa):.2f}", "-",
                     "calibrated" if abs(mb["io.scan_bytes"] / fb - 1) < 0.05 else "uncalibrated"))
        ab("op.agg_time_s", "op.agg_time_s",
           noop(small.select("k", "v")),
           noop(small.groupBy(F.col("k") % 1000).agg(F.sum("v"))))
        ab("op.sort_time_s", "op.sort_time_s",
           noop(small), noop(small.sortWithinPartitions("v")))
        ab("op.exchange_bytes", "op.exchange_bytes",
           noop(small.repartition(8, "k")), noop(big.repartition(8, "k")),
           ref="stage_shuffle_write")

        def kernel(sleep_s: float):
            def fn(batches):
                for batch in batches:
                    time.sleep(sleep_s)
                    yield batch
            return fn

        # 4 tasks of one Arrow batch each: arm B adds 4 x 0.5 s of kernel time.
        py_in = spark.range(0, 400, numPartitions=4)
        fast = noop(py_in.mapInPandas(kernel(0.0), "id long"))
        slow = noop(py_in.mapInPandas(kernel(0.5), "id long"))
        ab("operators.python_kernel_s", "op.python_run_s", fast, slow)
        ab("op.python_time_s", "op.python_time_s", fast, slow)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print("| metric | metric A -> B | reference A -> B | delta ratio | max share of executor run | status |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print("| " + " | ".join(r) + " |")


if __name__ == "__main__":
    main()
