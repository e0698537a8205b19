"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The benchmark writes a
seeded copy of its inputs into ``.perfbench_work/`` (removed on exit),
starts one Spark session with ``session.get_spark`` on ``local[nproc]``,
runs untimed warm-up iterations, then runs timed iterations of the
workload as one closed-loop client until ``--seconds`` of iteration time
have been measured and at least as many iterations as ``SCHEDULE`` asks
have run. Every exported file is read back and checked against the DuckDB
oracle its ``QuerySpec`` declares, outside the timed region.

With ``--trace 0`` the last line of stdout is one JSON object holding the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics,
which come from spans around each call into the package and from Spark's
status store. Spans and per-iteration layer figures are also written to
``.perfbench_results/``. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes: SCALE times the sf0.1 fixture sizes for orders and
# lineitem, and the corpus sizes.
SCALE = 0.1
DOCS, EMBS = 1_000, 1_000
# Per workload: untimed warm-up iterations, then at least this many timed
# ones. A cold JVM's first pass (class loading, JIT, code generation,
# first-use artifact builds) varies by 15-35% from run to run, and the JIT
# keeps compiling through the next ones (on a 4-core VM ~19 s of compile
# time in the second pipeline iteration, ~8 s in the fourth), so an
# iteration right after the cold pass also measures how much spare CPU the
# host has. A pipeline iteration is mostly driver-side planning and job
# launch: a host slowdown lasting a few seconds slowed every request of the
# iteration it hit by up to 1.8x, and the median of three iterations moves
# only by how much the other two differ. corpus_curation's first pass alone
# takes 26-36 s, so it skips its compile-heavy second iteration and times
# the third; more would not fit the benchmark's time budget.
SCHEDULE = {"report_pipeline": (1, 3), "corpus_curation": (2, 1)}

END_TO_END = ("setup_s", "run_s", "run_cpu_s", "nonheap_mem_mb")
UNITS = {"setup_s": "s", "run_s": "s", "run_cpu_s": "s", "nonheap_mem_mb": "MB"}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    """Physical memory, capped by a cgroup v2 limit when one is set."""
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return total


def set_launch_env(work: str) -> None:
    """Fit the launch to the host and keep every write inside ``work``.
    Must run before pyspark starts its JVM."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host_cpus()))
    # session.get_spark defaults to 16g of driver heap; size it under a
    # quarter of host memory instead, between 1g and 4g.
    mem_gb = max(1, min(4, host_mem_bytes() // (4 * 1024**3)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{mem_gb}g")
    # Arrow Python workers import the package; they only see PYTHONPATH.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    sys.path.insert(0, ROOT)


def launch_conf(work: str) -> dict[str, str]:
    """Spark settings the benchmark adds at launch: JVM temp files inside
    ``work`` and no /tmp/hsperfdata file."""
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


_TICK = os.sysconf("SC_CLK_TCK")


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it, from the ppid in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by a process tree and the children it has
    reaped (utime + stime + cutime + cstime), plus this process."""
    total = 0
    for pid in descendants(root_pid) + [os.getpid()]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since the walk
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class MemorySampler(threading.Thread):
    """Memory of the driver JVM and the Python workers it forks, sampled
    every ``interval`` seconds: the JVM's heap and non-heap ``used`` (from
    its MemoryMXBean) and the workers' proportional set size (every
    process below the JVM; PSS counts the pages forked workers share with
    their daemon once). Each sample is (heap, non_heap, workers) bytes."""

    def __init__(self, spark, jvm_pid: int, interval: float = 0.25):
        super().__init__(daemon=True)
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.mx = mf.getMemoryMXBean()
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.samples: list[tuple[int, int, int]] = []
        self._stop_event = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> tuple[int, int, int]:
        workers = 0
        for pid in descendants(self.jvm_pid)[1:]:
            try:
                workers += self._pss(pid)
            except OSError:  # exited since the walk
                pass
        return (int(self.mx.getHeapMemoryUsage().getUsed()),
                int(self.mx.getNonHeapMemoryUsage().getUsed()), workers)

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.samples.append(self.sample())
            self._stop_event.wait(self.interval)

    def stop(self) -> list[tuple[int, int, int]]:
        self._stop_event.set()
        self.join()
        return self.samples


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("report_pipeline", "corpus_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def run(args, work: str) -> int:
    set_launch_env(work)
    try:
        import datagen
        import layers
        import verify
        import workloads as W
        from multi_report_etl_pipeline_spark.session import get_spark
        from spans import StoreCursor, Tracer, collect, tail
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    sizes = datagen.write_inputs(data_dir, args.seed, SCALE, DOCS, EMBS)
    gen_s = time.perf_counter() - t
    log(f"inputs: {sizes} (seed {args.seed}, generated in {gen_s:.2f} s, not part of setup_s)")

    t = time.perf_counter()
    oracle = verify.Oracle(data_dir, int(os.environ["SPARK_GRAFT_CPUS"]), os.environ["TMPDIR"])
    expected = {n: oracle.digest(W.REGISTRY[n].oracle) for n in W.request_names(args.workload)}
    oracle.close()
    oracle_s = time.perf_counter() - t
    log(f"oracle: {len(expected)} DuckDB digests in {oracle_s:.2f} s (untimed)")

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=launch_conf(work))
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.ProcessHandle.current().pid())
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer(sc, args.workload)
    body = W.WORKLOADS[args.workload]
    ctx = W.Context(spark, tracer, data_dir, os.path.join(work, "out"))
    try:
        t = time.perf_counter()
        tracer.enabled = bool(args.trace)
        warmup, timed = SCHEDULE[args.workload]
        for _ in range(warmup):
            body(ctx)
        tracer.enabled = False
        warm_s = time.perf_counter() - t
        warm_spans = list(tracer.spans)
        setup_s = time.perf_counter() - T_START - gen_s - oracle_s
        log(f"setup: {setup_s:.2f} s (session {session_s:.2f} s, warm-up {warm_s:.2f} s)")

        cursor = StoreCursor()
        if args.trace:
            collect(spark, cursor)  # skip set-up work
        sampler = MemorySampler(spark, jvm_pid)
        sampler.start()
        # Traced runs alternate traced and untraced iterations, starting
        # traced: the first (at the position the end-to-end run times)
        # gives the layer figures, each untraced one between two traced ones
        # a sample of the overhead.
        iters, traced, cpus, steals = [], [], [], []
        attempted = failed = 0
        failed_names: set[str] = set()
        measured = 0.0
        while True:
            trace_this = bool(args.trace) and len(iters) % 2 == 0
            tracer.enabled, tracer.iteration = trace_this, len(iters)
            cpu0, steal0 = tree_cpu_s(jvm_pid), steal_ticks()
            try:
                it = body(ctx)
            except Exception:  # a failed request ends the run, reported as failed
                traceback.print_exc()
                attempted += 1
                failed += 1
                failed_names.add("<iteration raised>")
                break
            finally:
                tracer.enabled = False
            cpu1, steal1 = tree_cpu_s(jvm_pid), steal_ticks()
            cpus.append(cpu1 - cpu0)
            steals.append((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
            iters.append(it)
            measured += it.wall
            export_bytes = 0
            for req in it.requests:
                attempted += 1
                try:
                    cols, rows, nbytes = verify.read_back(req.path, req.fmt, req.schema)
                    export_bytes += nbytes
                    ok = verify.digest(cols, rows) == expected[req.name]
                except (OSError, ValueError) as exc:
                    log(f"read-back of {req.name} failed: {exc}")
                    ok = False
                if not ok:
                    failed += 1
                    failed_names.add(req.name)
            if args.trace:
                store = collect(spark, cursor)
                if trace_this:
                    # bookkeeping of the timed iteration only, not the probe
                    bookkeeping = tracer.bookkeeping.get(tracer.iteration, 0.0)
                    tracer.enabled = True
                    probed, probe_store = layers.probe(args.workload, ctx, spark, cursor)
                    tracer.enabled = False
                    traced.append(layers.iteration_layers(
                        args.workload, it,
                        [s for s in tracer.spans if s.iteration == tracer.iteration],
                        store, probed, probe_store, cores, export_bytes, bookkeeping))
                    traced[-1]["host.steal_ratio"] = steals[-1]
            # A traced run needs a traced, an untraced and a traced iteration.
            if (measured >= args.seconds and len(iters) >= timed
                    and (not args.trace or len(iters) >= 3 and trace_this)):
                break
        mem = sampler.stop()
    finally:
        stop_spark(spark)

    heap, non_heap, workers = zip(*mem)

    def mb(c) -> str:
        return f"{statistics.median(c) / 1e6:.1f} (peak {max(c) / 1e6:.1f})"

    latencies = [r.latency for it in iters for r in it.requests]
    by_name: dict[str, list[float]] = {}
    for r in (r for it in iters for r in it.requests):
        by_name.setdefault(r.name, []).append(r.latency)
    log("request medians: " + ", ".join(
        f"{n} {statistics.median(v):.3f} s" for n, v in by_name.items()))
    log("iteration walls: " + ", ".join(f"{it.wall:.3f}" for it in iters))
    if latencies:
        tail_v, tail_pct = tail(latencies)
        log(f"request latency: p50 {statistics.median(latencies):.3f} s, "
            + (f"tail p{tail_pct:g} {tail_v:.3f} s" if tail_pct else f"max {tail_v:.3f} s")
            + f" of {len(latencies)} requests")
    log(f"iterations: {len(iters)} ({measured:.2f} s measured), requests: {attempted}, "
        f"failed: {failed}, failed_ratio: {failed / max(1, attempted):.4f}"
        + (f", failed requests: {sorted(failed_names)}" if failed_names else ""))
    if not iters or args.trace and not traced:
        metrics = {}
    elif args.trace:
        traced[0]["jvm.heap_peak_mb"] = max(heap) / 1e6
        metrics = layers.summarise(traced, [it.wall for it in iters], session_s, warm_spans)
        layers.write_results(
            os.path.join(ROOT, ".perfbench_results"), args, tracer.spans, traced, metrics)
    else:
        values = {
            "setup_s": setup_s,
            "run_s": statistics.median(it.wall for it in iters),
            "run_cpu_s": statistics.median(cpus),
            "nonheap_mem_mb": statistics.median(n + w for n, w in zip(non_heap, workers)) / 1e6,
        }
        notes = {
            "run_s": f"median of {len(iters)} iterations",
            "run_cpu_s": f"median of {len(iters)} iterations; host steal "
                         + ", ".join(f"{x:.3f}" for x in steals),
            "nonheap_mem_mb": f"median of {len(mem)} samples; Python workers {mb(workers)}, "
                              f"JVM non-heap {mb(non_heap)}; not counted: JVM heap {mb(heap)}",
        }
        for k in END_TO_END:
            log(f"  {k} = {values[k]:.4f} {UNITS[k]}  {notes.get(k, '')}")
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({
        "correct": failed == 0 and bool(iters),
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; teardown must go on
        traceback.print_exc()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - kill on any failure to exit cleanly
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
