"""Layer-attributed benchmark of the window-statistics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each workload is a closed, single-client
backfill on ``local[<cores>]`` (cores = this process's CPUs minus one), with
``spark.sql.shuffle.partitions`` equal to the core count as
``session.get_spark`` sets it. Inputs are generated from ``--seed`` by one
single-threaded numpy pass before any timing; the engine only reads the
generated files. The run then:

1. runs a fixed single-core kernel loop as a host probe (reported, not gated);
2. sets up: SparkSession plus one unscored warm-up unit on the same input;
3. runs more unscored units for ``WARM_SECONDS``, then units back to back
   until ``--seconds`` have passed, each on fresh checkpoint and sink paths;
4. gates every unit's output against an independent recomputation;
5. with ``--trace 1``, also runs the layer split (L0 kernel only, L1 map
   side into noop, L2 plus the stateful aggregate into noop, L3 full) with
   the Spark event log on, and writes the spans as JSON under
   ``.perfbench/traces``.

The last line of stdout is one JSON object: ``correct``, ``attempted`` and
``failed`` (units, the warm-up included), and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything else goes to stderr. Exits non-zero without a result when the
engine cannot be imported from the checkout.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, f"run-{os.getpid()}")

import argparse
import json
import shutil
import signal
import statistics
import subprocess
import time

import numpy as np

import procs
from eventlog import EventWindows
from spans import Tracer

END_TO_END = {
    "setup_s": "s",
    "windows_per_s": "windows/s",
    "batch_s_p50": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "host.probe_windows_per_s": "windows/s",
    "host.runq_s": "s",
    "host.steal_frac": "ratio",
    "sources.rows_in": "count",
    "sources.text_bytes_in": "bytes",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "kernels.windows_per_core_s": "windows/s",
    "kernels.ctw_windows_per_core_s": "windows/s",
    "kernels.cpu_share": "ratio",
    "udfs.noop_s": "s",
    "udfs.windows_per_s": "windows/s",
    "udfs.py_bytes_sent": "bytes",
    "udfs.py_bytes_returned": "bytes",
    "state.commit_ms": "ms",
    "state.rows_total_peak": "count",
    "state.rows_updated": "count",
    "state.memory_bytes_peak": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "shuffle.bytes_written": "bytes",
    "shuffle.skew": "ratio",
    "sink.add_batch_ms": "ms",
    "sink.wal_commit_ms": "ms",
    "sink.commit_offsets_ms": "ms",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "sink.orphan_files": "count",
    "driver.batches": "count",
    "driver.query_planning_ms": "ms",
    "driver.non_add_batch_ms": "ms",
    "sink_tsv.drain_s": "s",
    "sink_tsv.write_s": "s",
    "sink_tsv.bytes_written": "bytes",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "tasks.failed": "count",
    "self.wall_s": "s",
    "self.kernels_s": "s",
    "self.udfs_s": "s",
    "self.state_s": "s",
    "self.sink_s": "s",
    "self.sources_s": "s",
    "self.driver_s": "s",
    "self.sink_tsv_s": "s",
    "layers.accounted_frac": "ratio",
    "layers.negative_self": "count",
    "driver.lifecycle_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

PROBE_SECONDS = 0.5
# Unscored units after set-up, before timing: unit walls keep falling over
# the first several units of a fresh JVM, and on a slower host fewer timed
# units would run, so the median would sit on earlier, slower units.
WARM_SECONDS = 12.0
# The Spark driver's heap is fixed and touched up front, so the peak memory
# of the process tree moves with what the engine allocates outside the heap
# and in Python, not with when the JVM decides to grow its heap.
DRIVER_HEAP = "2g"
CTW_SAMPLE_PAGES = 8


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_probe() -> float:
    """Windows/s of the stats kernel on one core over a fixed input that
    does not depend on the seed: a calibration of the machine at run time."""
    from workloads import kernel_stats_pass

    codes = np.random.default_rng(0).integers(0, 4, (64, 8192))
    texts = [np.frombuffer(b"ACGT", np.uint8)[r].tobytes().decode() for r in codes]
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < PROBE_SECONDS:
        n += kernel_stats_pass(texts, 1000, False)
    return n / (time.perf_counter() - t0)


def start_session(cores: int, extra: dict):
    from fasta_windows_spark.session import get_spark

    local = os.path.join(WORK, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the short-lived JVM spark-submit starts to build the Spark driver's command
    java_tmp = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_tmp
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions":
            f"{java_tmp} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        **extra,
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> list[int]:
    """Stop Spark, shut the py4j gateway, wait for the JVM and every other
    descendant to exit; kill what is left after a grace period."""
    from pyspark import SparkContext

    started = [p for p in procs.tree_pids() if p != os.getpid()]
    gw = SparkContext._gateway
    if gw is not None:
        spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = procs.wait_gone(started, 20)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    return procs.wait_gone(left, 10)


def run_unit(wl, ctx, inp, exp, units, tracer=None):
    """One unit; a raised error or a timeout counts as a failed unit and is
    never retried."""
    from workloads import Unit

    cpu0 = procs.tree_cpu_s()
    try:
        u = wl.unit(ctx, inp, exp, tracer)
    except Exception as e:  # a failed unit is reported, and the run goes on
        log(f"unit failed: {type(e).__name__}: {e}")
        u = Unit(wall=float("nan"), windows=0, errors=[f"{type(e).__name__}: {e}"])
    u.cpu_s = procs.tree_cpu_s() - cpu0
    units.append((u, exp))
    return u


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # every temporary file of this process and of the JVM it starts stays
    # inside the checkout
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    t_main = time.perf_counter()
    age_main = process_age_s()
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    try:
        import fasta_windows_spark
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if not os.path.abspath(fasta_windows_spark.__file__).startswith(ROOT + os.sep):
        log(f"engine imported from {fasta_windows_spark.__file__}, not from {ROOT}")
        return 2
    from fasta_windows_spark.streaming.listener import ProgressCollector
    from workloads import WORKLOADS, Ctx, StreamCounts, Unit, lifecycle_frac

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]()
    # One CPU is left to the driver JVM (stream execution, listener bus, JIT
    # compiler threads) and to this process; with a task on every CPU their
    # threads queue behind the tasks, and the run measures the scheduler.
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    imports_s = age_main + time.perf_counter() - t_main

    probe = host_probe()
    log(f"host probe: {probe:.0f} windows/s on one core")
    inp = wl.generate(args.seed, os.path.join(WORK, "src"))
    exp = wl.expect(inp)
    exp["seed"] = args.seed
    log(f"{wl.name}: {exp['pages']} pages, {exp['windows']} windows per unit, "
        f"{inp.n_files} files, {exp.get('dropped', 0)} late groups predicted")

    events = EventWindows(os.path.join(WORK, "events"))
    t0 = time.perf_counter()
    spark = start_session(cores, events.conf() if args.trace else {})
    try:
        session_s = time.perf_counter() - t0
        listener = ProgressCollector()
        spark.streams.addListener(listener)
        ctx = Ctx(WORK, spark, listener, cores)
        units: list = []
        # the warm-up is one unscored unit on the same input, on its own paths
        run_unit(wl, ctx, inp, exp, units)
        setup_s = imports_s + time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s)")
        t_warm = time.perf_counter()
        while time.perf_counter() - t_warm < WARM_SECONDS:
            u = run_unit(wl, ctx, inp, exp, units)
            log(f"warm-up unit {len(units) - 1}: {u.wall:.2f}s")
        n_warm = len(units)

        runq0, ticks0 = procs.tree_runq_s(), procs.vm_ticks()
        with procs.RssSampler() as rss:
            t_timed = time.perf_counter()
            while time.perf_counter() - t_timed < args.seconds:
                u = run_unit(wl, ctx, inp, exp, units)
                log(f"unit {len(units) - 1}: {u.wall:.2f}s, {len(u.batch_ms)} batches")
        runq_s = procs.tree_runq_s() - runq0
        ticks1 = procs.vm_ticks()
        steal_frac = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        log(f"share of the machine's CPU time stolen during timing: {steal_frac:.3f}")
        timed = units[n_warm:]
        tracer = Tracer(f"{wl.name}-{args.seed}")
        layer = {}
        if args.trace:
            # a failing layer run counts as a failed unit, like any other
            try:
                layer = traced_layers(wl, ctx, inp, exp, tracer, events, units)
            except Exception as e:
                log(f"layer split failed: {type(e).__name__}: {e}")
                units.append((Unit(wall=float("nan"), windows=0,
                                   errors=[f"{type(e).__name__}: {e}"]), exp))
    finally:
        left = stop_session(spark)
        if left:
            log(f"processes still alive after shutdown: {left}")

    errors = 0
    for i, (u, e) in enumerate(units):
        if not u.errors and u.out:
            try:
                u.errors = wl.check(u, e)
            except Exception as ex:  # e.g. an output file the unit did not write
                u.errors = [f"gate: {type(ex).__name__}: {ex}"]
        if u.errors:
            errors += 1
            log(f"unit {i} failed the gate: {u.errors}")
    # metrics cover every timed unit that ran to the end; a gate failure
    # shows as "correct": false
    ok = [u for u, _ in timed if u.out]
    if not ok:
        log("no unit of the timed part ran to the end")
        return 1
    cpu_s = statistics.median(u.cpu_s for u in ok)

    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(layer)
        metrics.update(events.metrics())
        metrics["session.start_s"] = session_s
        metrics["host.probe_windows_per_s"] = probe
        metrics["host.runq_s"] = runq_s
        metrics["host.steal_frac"] = steal_frac
        if layer:
            metrics["kernels.cpu_share"] = layer["kernels.l0_s"] / cpu_s
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        path = os.path.join(STATE, "traces", f"{wl.name}-{args.seed}.json")
        tracer.dump(path)
        log(f"spans written to {path}")
        units_of = PER_LAYER
    else:
        batch_s = [ms / 1e3 for u in ok for ms in u.batch_ms]
        log(f"batch_s_p50 over {len(batch_s)} batches of {len(ok)} units")
        if isinstance(wl, StreamCounts):
            share = statistics.median(lifecycle_frac(u) for u in ok)
            log(f"share of unit wall outside data batches: {share:.3f}")
        metrics = {
            "setup_s": setup_s,
            "windows_per_s": statistics.median(u.windows / u.wall for u in ok),
            "batch_s_p50": statistics.median(batch_s),
            "cpu_s": cpu_s,
            "peak_rss_mb": rss.peak_mb,
        }
        units_of = END_TO_END
    print(json.dumps({
        "correct": errors == 0,
        "attempted": len(units),
        "failed": errors,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units_of.items()},
    }))
    return 0


def traced_layers(wl, ctx, inp, exp, tracer, events, units):
    from workloads import kernel_ctw_pass, kernel_stats_pass, timed as timeit

    texts = wl.kernel_texts(inp)
    n_stats, stats_s = timeit(kernel_stats_pass, texts, 1000, wl.kernel_f32)
    # no workload runs CTW; its kernel is measured on a seeded sample of pages
    rng = np.random.default_rng(exp["seed"])
    sample = [texts[i] for i in rng.choice(len(texts), CTW_SAMPLE_PAGES, replace=False)]
    n_ctw, ctw_s = timeit(kernel_ctw_pass, sample, 1000)
    m = {
        "kernels.windows_per_core_s": n_stats / stats_s,
        "kernels.ctw_windows_per_core_s": n_ctw / ctw_s,
        "kernels.l0_s": stats_s,
    }
    got, layer_units = wl.layers(ctx, inp, exp, tracer, events, stats_s)
    units.extend((u, exp) for u in layer_units)
    m.update(got)
    return m


if __name__ == "__main__":
    try:
        rc = main()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(rc)
