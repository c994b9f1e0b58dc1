"""Benchmark command for wrangler_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout: the package is imported from the
current directory, and every file the run writes (inputs, Spark scratch,
outputs) goes under ``.perfbench_work/`` there and is removed at exit.

One run is one Python process driving ``local[min(2, nproc)]`` Spark:

1. set up once, cold: JVM launch and Spark session start, input
   generation from the seed, input load and untimed warm-up operations;
   the whole of it is ``setup_s``;
2. run the workload's operations for ``--seconds``; each operation runs
   inside ``checkpoint_scope`` and must leave the set of persisted RDDs
   as it found it;
3. check the outputs against references that share no code with the
   package (DuckDB SQL, planted ground truth).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: every second operation of the window runs
with the layer wrappers installed (``spans.py``), and the tracing
overhead is the traced operations' median latency against the untraced
ones' over the same stretch of the run.

Standard output ends with one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it records the parallelism
the run had, the seed and the input shape. The exit code is 0 only when
every operation succeeded and every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

# Two Spark cores leave the rest of a 4-vCPU box to the Python UDF
# workers, the JIT, the collector and the driver; on a host that steals
# CPU time this cut the run-to-run spread of recipe_batch about threefold
# (README.md).
MAX_CPUS = 2

# per-directive apply times reported by the traced run: every directive
# the four workloads use, under the name the directive class carries
DIRECTIVES = ["parse-as-csv", "drop", "fill-null-or-empty", "uppercase", "lowercase",
              "mask-number", "mask-shuffle", "filter-row", "set-type", "set-column",
              "source-filter", "pii-redact"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_environment(root: str, workdir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``workdir``, and let Python workers import the package."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # no JVM of the run keeps its performance counters in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
        f'--driver-java-options "-XX:-UsePerfData '
        f'-Djava.io.tmpdir={tmp} -Dderby.system.home={workdir}" '
        "pyspark-shell")


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Window:
    """Operations of one timed window."""

    def __init__(self):
        # (kind, seconds, records, traced)
        self.ops: list[tuple[str, float, int, bool]] = []
        self.failed = 0
        self.leaked = 0
        self.wall = 0.0

    def latencies(self, kinds, traced: bool | None = None) -> list[float]:
        return [dt for k, dt, _, t in self.ops
                if k in kinds and (traced is None or t == traced)]


def run_window(spark, workload, seconds: float, tr, wrap: bool) -> Window:
    """Run operations for ``seconds`` (longer if the workload needs a
    unit of work finished, see ``Workload.keep_going``). With ``wrap`` every
    second operation runs with the layer wrappers installed, so traced and
    untraced operations interleave over the same stretch of the run; the
    window then holds at least two operations, one of each, and ends with
    the workload's traced-only operations (``Workload.traced_extras``)."""
    from wrangler_spark.datapipe import checkpoint_scope, persistent_rdd_ids

    from spans import NullTracer

    untraced_tr = NullTracer()
    w = Window()

    def run_op(kind: str, traced: bool) -> None:
        i = len(w.ops)
        if traced:
            tr.install()
        before = persistent_rdd_ids(spark)
        t0 = time.perf_counter()
        try:
            with tr.span(f"op.{kind}"), checkpoint_scope():
                records = workload.run(i, kind, tr if traced else untraced_tr)
        except Exception:
            traceback.print_exc()
            w.failed += 1
            records = 0
        finally:
            dt = time.perf_counter() - t0
            if traced:
                tr.uninstall()
        leaked = len(persistent_rdd_ids(spark) - before)
        if leaked:
            print(f"perfbench: operation {i} ({kind}) leaked {leaked} persisted RDDs", file=sys.stderr)
            w.failed += 1
            w.leaked += leaked
        w.ops.append((kind, dt, records, traced))

    workload.window_started()
    start = time.perf_counter()
    while (workload.keep_going(time.perf_counter() - start < seconds)
           or (wrap and len(w.ops) < 2)):
        run_op(workload.kind(len(w.ops), (time.perf_counter() - start) / seconds),
               wrap and len(w.ops) % 2 == 1)
    if wrap:
        for kind in workload.traced_extras():
            run_op(kind, True)
    w.wall = time.perf_counter() - start
    return w


def end_to_end(workload, setup_s: float, window: Window) -> dict:
    lat = window.latencies(workload.latency_kinds)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "records_per_s": {"value": workload.records_per_s(window), "unit": "1/s"},
        "op_p50_ms": {"value": 1000 * statistics.median(lat), "unit": "ms"},
    }


def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def per_layer(spark, workload, tr, root, window: Window) -> dict:
    """Layer times are self times per traced operation (the dedup and
    ``sources`` layers: per traced curation chain); Spark job and stage
    figures are per operation over all operations of the window."""
    import spans as sp

    selfs = tr.self_times()
    ops = [i for i, s in enumerate(tr.spans) if s.name.startswith("op.")]
    traced_ops = [i for i, op in zip(ops, window.ops) if op[3]]
    n_traced = max(1, len(traced_ops))
    n_chains = max(1, sum(tr.spans[i].name == "op.chain" for i in traced_ops))
    n_ops = max(1, len(ops))
    owners = tr.job_owners()

    def self_ms(match, per: int = n_traced) -> float:
        return 1000 * sum(t for s, t in zip(tr.spans, selfs) if match(s.name)) / per

    def named(name):
        return lambda n: n == name

    def op_ms(kind) -> list[float]:
        return [1000 * tr.spans[i].duration for i in ops if tr.spans[i].name == f"op.{kind}"]

    def under(idx, match) -> bool:
        while idx is not None:
            if match(tr.spans[idx].name):
                return True
            idx = tr.spans[idx].parent
        return False

    def jobs_under(match) -> int:
        return sum(under(owner, match) for owner in owners.values())

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    jobs = sp.job_stats(spark, range(root.job_lo, root.job_hi))
    intervals = [(j.start_ms / 1000, j.end_ms / 1000) for j in jobs]
    calls = sum(s.name in ("interactive.execute", "interactive.schema") for s in tr.spans)
    folds = op_ms("fold")
    # overhead on the most frequent operation kind only: the kinds differ
    # in cost, and the two halves need not hold the same mix
    common = max(workload.latency_kinds, key=lambda k: len(window.latencies((k,))))
    lat_u = window.latencies((common,), traced=False)
    lat_t = window.latencies((common,), traced=True)
    overhead = (100 * (statistics.median(lat_t) / statistics.median(lat_u) - 1)
                if lat_u and lat_t else 0.0)
    extra = workload.layer_values()
    traced_self = sum(selfs[i] for i in traced_ops)

    values = {
        "parser.parse_ms": (self_ms(named("parser.parse")), "ms"),
        "expression.compile_ms": (self_ms(named("expression.compile")), "ms"),
        "pipeline.compile_ms": (self_ms(named("pipeline.compile")), "ms"),
        "pipeline.compile_cache_hit_ratio": (tr.cache_hits / tr.cache_calls if tr.cache_calls else 0.0, "ratio"),
        "pipeline.transform_ms": (self_ms(named("pipeline.transform")), "ms"),
        "directives.apply_ms": (self_ms(lambda n: n.startswith("directives.apply.")), "ms"),
        **{f"directives.apply_ms.{d}": (self_ms(named(f"directives.apply.{d}")), "ms") for d in DIRECTIVES},
        "directives.sample_jobs": (sum(tr.spans[o].name.startswith("directives.apply.")
                                       for o in owners.values()) / n_traced, "count"),
        "context.errors_ms": (self_ms(named("context.errors")), "ms"),
        "context.error_rows": (workload.counts.get("context.error_rows", 0) / n_ops, "count"),
        "interactive.execute_ms": (self_ms(named("interactive.execute")), "ms"),
        "interactive.schema_ms": (self_ms(named("interactive.schema")), "ms"),
        "interactive.jobs_per_call": (jobs_under(lambda n: n.startswith("interactive.")) / calls
                                      if calls else 0.0, "count"),
        "statistics.summary_ms": (self_ms(named("statistics.summary")), "ms"),
        "datapipe.exact_dedup_ms": (self_ms(named("datapipe.exact_dedup"), n_chains), "ms"),
        "datapipe.minhash_components_ms": (self_ms(named("datapipe.minhash_components"), n_chains), "ms"),
        "datapipe.cluster_survivors_ms": (self_ms(named("datapipe.cluster_survivors"), n_chains), "ms"),
        "datapipe.checkpoint_ms": (self_ms(named("datapipe.checkpoint")), "ms"),
        "datapipe.dup_removed_ratio": (extra.get("datapipe.dup_removed_ratio", 0.0), "ratio"),
        "datapipe.checkpoints_leaked": (window.leaked, "count"),
        "datapipe.vocab_update_state_ms": (self_ms(named("datapipe.vocab_update_state")), "ms"),
        "datapipe.fold_ms": (mean(folds), "ms"),
        "datapipe.replay_ms": (mean(op_ms("replay")), "ms"),
        "datapipe.read_ms": (statistics.median(op_ms("read")) if op_ms("read") else 0.0, "ms"),
        "datapipe.jobs_per_fold": (jobs_under(named("op.fold")) / len(folds) if folds else 0.0, "count"),
        "datapipe.compact_ms": (mean(op_ms("compact")), "ms"),
        "datapipe.state_files": (extra.get("datapipe.state_files", 0), "count"),
        "datapipe.state_bytes": (extra.get("datapipe.state_bytes", 0), "bytes"),
        "sources.write_corpus_ms": (self_ms(named("sources.write_corpus"), n_chains), "ms"),
        "sources.files_written": (extra.get("sources.files_written", 0), "count"),
        "sources.bytes_written": (extra.get("sources.bytes_written", 0), "bytes"),
        "session.action_ms": (self_ms(lambda n: n.startswith("session.")), "ms"),
        "session.jobs": (len(jobs) / n_ops, "count"),
        "session.stages": (sum(j.stages for j in jobs) / n_ops, "count"),
        "session.tasks": (sum(j.tasks for j in jobs) / n_ops, "count"),
        "session.job_wall_s": (sum(hi - lo for lo, hi in intervals) / n_ops, "s"),
        "session.driver_gap_s": ((root.duration - sp.union_seconds(intervals)) / n_ops, "s"),
        "session.task_time_s": (sum(j.task_ms for j in jobs) / 1000 / n_ops, "s"),
        "session.cpu_time_s": (sum(j.cpu_ns for j in jobs) / 1e9 / n_ops, "s"),
        "session.gc_time_s": (sum(j.gc_ms for j in jobs) / 1000 / n_ops, "s"),
        "session.shuffle_read_bytes": (sum(j.shuffle_read for j in jobs) / n_ops, "bytes"),
        "session.shuffle_write_bytes": (sum(j.shuffle_write for j in jobs) / n_ops, "bytes"),
        "session.spill_bytes": (sum(j.spill for j in jobs) / n_ops, "bytes"),
        "session.python_stages": (sum(j.python_stages for j in jobs) / n_ops, "count"),
        "bench.self_ms": (1000 * traced_self / n_traced, "ms"),
        "trace.root_s": (root.duration, "s"),
        "trace.self_sum_s": (sum(selfs), "s"),
        "trace.spans_per_op": ((len(tr.spans) - 1 - len(ops) + len(traced_ops)) / n_traced, "count"),
        "trace.overhead_pct": (overhead, "%"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pyspark

        from wrangler_spark import get_spark
    except ImportError as ex:
        print(f"perfbench: cannot import the package from {root}: {ex}", file=sys.stderr)
        return 2
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_environment(root, workdir)
    nproc = os.cpu_count() or 1
    cpus = min(MAX_CPUS, nproc)
    workload = WORKLOADS[args.workload](args.seed, workdir)
    spark = None
    try:
        from wrangler_spark.datapipe import checkpoint_scope

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        t1 = time.perf_counter()
        workload.setup(spark)
        t2 = time.perf_counter()
        with checkpoint_scope():
            workload.warmup(spans.NullTracer())
        t3 = time.perf_counter()
        setup_s = t3 - t0
        setup_parts = {"session_s": t1 - t0, "inputs_s": t2 - t1, "warmup_s": t3 - t2}
        if args.trace:
            with checkpoint_scope():
                workload.trace_setup(spans.NullTracer())
            setup_parts["trace_setup_s"] = time.perf_counter() - t3

        stat0 = cpu_times()
        if args.trace:
            tr = spans.Tracer(spark, run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
            with tr.span(f"workload.{args.workload}") as root_span:
                window = run_window(spark, workload, args.seconds, tr, wrap=True)
        else:
            window = run_window(spark, workload, args.seconds, spans.NullTracer(), wrap=False)
        steal = steal_share(stat0, cpu_times())
        jvm = spark.sparkContext._jvm
        driver_kb = vm_hwm_kb("self")
        jvm_kb = vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid())
        heap_mb = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20
        memory = {"session.peak_rss_mb": {"value": (driver_kb + jvm_kb) / 1024, "unit": "MB"},
                  "session.jvm_heap_mb": {"value": heap_mb, "unit": "MB"}}
        if args.trace:
            metrics = {**per_layer(spark, workload, tr, root_span, window), **memory}
        else:
            metrics = end_to_end(workload, setup_s, window)

        checked, wrong = workload.check()
        for msg in wrong:
            print(f"perfbench: wrong output: {msg}", file=sys.stderr)
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": spark.sparkContext.master,
            "defaultParallelism": spark.sparkContext.defaultParallelism, "nproc": nproc,
            "pyspark": pyspark.__version__, "python": sys.version.split()[0],
            "ansi": spark.conf.get("spark.sql.ansi.enabled"), "why": workload.why,
            "inputs": workload.describe(), "setup_s": setup_s, **setup_parts,
            "ops": {k: sum(1 for o in window.ops if o[0] == k) for k in sorted({o[0] for o in window.ops})},
            "latency_samples": len(window.latencies(workload.latency_kinds)),
            "window_s": window.wall, "cpu_steal_share": steal,
            "op_ms": [round(1000 * op[1], 1) for op in window.ops],
            "driver_rss_mb": driver_kb / 1024, "jvm_rss_mb": jvm_kb / 1024, "jvm_heap_mb": heap_mb,
            "outputs_checked": checked, "wrong_outputs": len(wrong), "leaked_rdds": window.leaked,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass

    attempted = len(window.ops) + checked
    failed = window.failed + len(wrong)
    context["error_rate"] = failed / attempted
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    print(f"error_rate {context['error_rate']:.6g} ({failed} of {attempted} operations and output checks)")
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not wrong and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
