"""The benchmark workloads. Each is a closed, single-client backfill: its inputs
are on disk before the query starts, and each unit of work runs the
workload's pipeline once over them through the engine's public functions
(streaming units with the ``availableNow`` trigger), on a checkpoint and
sink path that is never reused.

A unit returns its wall time, the work it delivered and its micro-batch
progress; ``check`` gates its output. ``layers`` runs the traced layer
split: L0 kernel only (no Spark, one core), L1 the map side into a noop
sink, L2 the same plus the stateful aggregate into a noop sink, L3 the
full pipeline.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gate
import gen

UNIT_TIMEOUT_S = 90
LAYER_REPEATS = 3


class UnitFailed(Exception):
    pass


@dataclass
class Unit:
    wall: float
    windows: int
    batch_ms: list = field(default_factory=list)
    progress: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    out: str = ""
    cpu_s: float = 0.0


class Ctx:
    """Per-run state: the work directory, a counter for fresh paths, the
    session and its progress listener."""

    def __init__(self, work: str, spark, listener, cores: int):
        self.work = work
        self.spark = spark
        self.listener = listener
        self.cores = cores
        self._n = 0

    def fresh(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n:04d}")

    def progress_of(self, q, rows: int, timeout: float = 30.0) -> list:
        """Progress events of query ``q``, once they have all arrived: the
        listener bus is asynchronous, so wait for the termination event and
        for the input row count to reach what was generated."""
        qid, rid = str(q.id), str(q.runId)
        deadline = time.monotonic() + timeout
        while True:
            ps = [p for p in list(self.listener.progress) if p.get("runId") == rid]
            if (
                qid in self.listener.terminated
                and sum(p.get("numInputRows", 0) for p in ps) >= rows
            ) or time.monotonic() > deadline:
                return ps
            time.sleep(0.05)


def kernel_stats_pass(texts: list[str], window: int, f32: bool) -> int:
    """The stats path as ``window_stats`` runs it: doc-aligned chunks of
    ``CHUNK_TEXT_BYTES`` through the concat kernel, then ``stats_table``
    once over the accumulated tables (a document larger than a chunk runs
    whole, where ``window_stats`` would segment it). Returns the window
    count."""
    from fasta_windows_spark import kernels as K
    from fasta_windows_spark.functions.udfs import CHUNK_TEXT_BYTES

    bufs = [t.encode("utf-8") for t in texts]
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    lengths = np.array([len(b) for b in bufs], dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(lengths)))
    hists, kvecs = [], {k: [] for k in K.KMER_KS}
    r0 = 0
    while r0 < len(lengths):
        r1 = int(np.searchsorted(offs, offs[r0] + CHUNK_TEXT_BYTES, side="left"))
        r1 = min(max(r1, r0 + 1), len(lengths))
        res = K.batch_window_stats_concat_sliding(
            data[offs[r0] : offs[r1]], lengths[r0:r1], window, None
        )
        hists.append(res[3])
        for k in K.KMER_KS:
            kvecs[k].append(res[4][k])
        r0 = r1
    h = np.vstack(hists)
    K.stats_table(h, {k: np.vstack(v) for k, v in kvecs.items()}, masked=False, f32=f32)
    return len(h)


def kernel_ctw_pass(texts: list[str], window: int) -> int:
    """The entropy-mode kernel as ``ctw_udf_frame`` runs it (6-bin entropy
    and CTW depth 6 per window)."""
    from fasta_windows_spark.kernels import ctw_bits_per_base_many, entropy6, window_bounds

    wins = []
    for t in texts:
        b = t.encode("utf-8")
        for s, e in window_bounds(len(b), window):
            wins.append(b[s:e])
            entropy6(b[s:e])
    ctw_bits_per_base_many(wins, 6)
    return len(wins)


def timed(fn, *a, **kw):
    t = time.perf_counter()
    r = fn(*a, **kw)
    return r, time.perf_counter() - t


def lifecycle_frac(u: Unit) -> float:
    """Share of a streaming unit's wall outside its data batches: query
    start, the sentinel's batch, the no-data batch that evicts the last
    windows, and the wait for termination."""
    return 1 - sum(u.batch_ms) / 1e3 / u.wall


def phase_sums(progress: list) -> dict:
    out: dict[str, float] = {}
    for p in progress:
        for k, v in (p.get("durationMs") or {}).items():
            out[k] = out.get(k, 0) + v
    return out


def state_sums(progress: list) -> dict:
    ops = [s for p in progress for s in p.get("stateOperators", [])]
    per_batch = [p.get("stateOperators", []) for p in progress]
    return {
        "commit_ms": sum(s.get("commitTimeMs", 0) for s in ops),
        "rows_total_peak": max(
            (sum(s.get("numRowsTotal", 0) for s in b) for b in per_batch), default=0
        ),
        "rows_updated": sum(s.get("numRowsUpdated", 0) for s in ops),
        "memory_bytes_peak": max(
            (sum(s.get("memoryUsedBytes", 0) for s in b) for b in per_batch), default=0
        ),
        "rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in ops),
    }


# --- streaming workload -------------------------------------------------------


class StreamCounts:
    """The headline: positional window counts through the Arrow UDF into a
    watermarked 10-minute host-window aggregate and the exactly-once sink.
    A file-source stream, one file per micro-batch; from the third file on,
    each file carries a few pages behind the watermark."""

    name = "stream_counts"
    files, per_file, late_per_file = 4, 625, 3
    kernel_f32 = False

    def generate(self, seed, src):
        return gen.counts_stream(seed, src, self.files, self.per_file,
                                 self.late_per_file)

    def map_side(self, stream):
        from fasta_windows_spark.functions.udfs import window_stats
        from fasta_windows_spark.streaming.pipeline import with_host

        return window_stats(
            with_host(stream), window=1000, id_cols=["host", "warc_ts"], f32=False,
            fields=["win_len", "cnt_g", "cnt_c"],
        )

    def aggregate(self, stream):
        import pyspark.sql.functions as F

        return (
            self.map_side(stream)
            .withWatermark("warc_ts", "10 minutes")
            .groupBy(F.window("warc_ts", "10 minutes").alias("w"), "host")
            .agg(
                F.count("*").alias("n_windows"),
                F.sum("win_len").alias("total_chars"),
                F.sum("cnt_g").alias("cnt_g"),
                F.sum("cnt_c").alias("cnt_c"),
            )
            .select(F.col("w.start").alias("w_start"), "host", "n_windows",
                    "total_chars", "cnt_g", "cnt_c")
        )

    def expect(self, inp):
        want, dropped = gate.expected_counts(inp.pages, 1000)
        return {"want": want, "dropped": dropped, "windows": int(want["n_windows"].sum()),
                "pages": len(inp.pages) - 1, "rows": len(inp.pages)}

    def _stream(self, ctx, inp):
        from fasta_windows_spark.streaming.pipeline import read_pages_stream

        return read_pages_stream(ctx.spark, inp.src, max_files_per_trigger=1)

    def _await(self, ctx, q, inp) -> tuple[float, list]:
        if not q.awaitTermination(UNIT_TIMEOUT_S):
            q.stop()
            raise UnitFailed(f"query did not finish within {UNIT_TIMEOUT_S}s")
        return time.perf_counter(), ctx.progress_of(q, len(inp.pages))

    def unit(self, ctx: Ctx, inp: gen.Inputs, exp: dict, tracer=None) -> Unit:
        from fasta_windows_spark.streaming.pipeline import write_exactly_once

        out, ck = ctx.fresh("sink"), ctx.fresh("ckpt")
        t0 = time.perf_counter()
        span = tracer.span if tracer else (lambda _n: contextlib.nullcontext())
        with span("pipeline.write_exactly_once"):
            q = write_exactly_once(self.aggregate(self._stream(ctx, inp)), out, ck)
        t1, progress = self._await(ctx, q, inp)
        # batches of generated data: not the sentinel's, not the no-data
        # batch that evicts the last windows
        data = [p for p in progress if p.get("numInputRows", 0) > 0][:-1]
        return Unit(
            wall=t1 - t0, windows=exp["windows"],
            batch_ms=[p["durationMs"].get("triggerExecution", 0) for p in data],
            progress=progress, out=out,
        )

    def check(self, u: Unit, exp: dict) -> list:
        rows_in = sum(p.get("numInputRows", 0) for p in u.progress)
        errs = []
        if rows_in != exp["rows"]:
            errs.append(f"stream read {rows_in} rows, generated {exp['rows']}")
        errs += gate.check_counts(u.out, exp["want"])
        dropped = state_sums(u.progress)["rows_dropped_by_watermark"]
        if dropped != exp["dropped"]:
            errs.append(f"watermark dropped {dropped}, predicted {exp['dropped']}")
        return errs

    def _noop(self, ctx, df, inp) -> list:
        """Run ``df`` (a streaming frame) into the noop sink; progress."""
        q = (
            df.writeStream.format("noop").outputMode("append")
            .option("checkpointLocation", ctx.fresh("ckpt"))
            .trigger(availableNow=True).start()
        )
        return self._await(ctx, q, inp)[1]

    def kernel_texts(self, inp) -> list[str]:
        return inp.pages.loc[inp.pages["host"] != gen.SENTINEL_HOST, "text"].tolist()

    def layers(self, ctx: Ctx, inp: gen.Inputs, exp: dict, tracer, events, l0: float):
        """L1..L3 on the unit's input, given the L0 kernel seconds. Self
        times per layer, in seconds per unit: kernels = L0 (one core, as
        each one-file batch is one task); udfs = L1 addBatch - L0; state =
        L2 addBatch - L1 addBatch; sink = L3 addBatch - L2 addBatch + the
        offset-log and commit-log writes; sources = latestOffset +
        getBatch; driver = query start, planning, and trigger time outside
        the reported phases. L1 and L2 run ``LAYER_REPEATS`` times,
        interleaved, and their median addBatch is used; the event log
        covers the first run of each."""
        add = {"L1": [], "L2": []}
        for i in range(LAYER_REPEATS):
            for label, side in (("L1", self.map_side), ("L2", self.aggregate)):
                with events.window(label) if i == 0 else contextlib.nullcontext():
                    p = self._noop(ctx, side(self._stream(ctx, inp)), inp)
                add[label].append(phase_sums(p).get("addBatch", 0) / 1e3)
        a1, a2 = statistics.median(add["L1"]), statistics.median(add["L2"])
        plain = self.unit(ctx, inp, exp)
        with events.window("L3"), tracer.span("unit") as root:
            u = self.unit(ctx, inp, exp, tracer)
        spans_from_progress(tracer, root, u.progress)
        ph3 = phase_sums(u.progress)
        by = tracer.self_by_name()
        self_s = {
            "kernels": l0,
            "udfs": a1 - l0,
            "state": a2 - a1,
            "sink": ph3.get("addBatch", 0) / 1e3 - a2
            + (ph3.get("walCommit", 0) + ph3.get("commitOffsets", 0)) / 1e3,
            "sources": (ph3.get("latestOffset", 0) + ph3.get("getBatch", 0)) / 1e3,
            "driver": ph3.get("queryPlanning", 0) / 1e3 + by.get("batch", 0)
            + by.get("pipeline.write_exactly_once", 0),
        }
        st = state_sums(u.progress)
        files = gate.sink_files(u.out)
        m = {
            **{f"self.{k}_s": v for k, v in self_s.items()},
            "self.wall_s": u.wall,
            "layers.accounted_frac": sum(self_s.values()) / u.wall,
            "layers.negative_self": sum(v < 0 for v in self_s.values()),
            "trace.overhead_frac": u.wall / plain.wall - 1,
            "driver.lifecycle_frac": lifecycle_frac(u),
            "sources.rows_in": sum(p.get("numInputRows", 0) for p in u.progress),
            "sources.text_bytes_in": int(sum(len(t) for t in inp.pages["text"])),
            "sources.latest_offset_ms": ph3.get("latestOffset", 0),
            "sources.get_batch_ms": ph3.get("getBatch", 0),
            "state.commit_ms": st["commit_ms"],
            "state.rows_total_peak": st["rows_total_peak"],
            "state.rows_updated": st["rows_updated"],
            "state.memory_bytes_peak": st["memory_bytes_peak"],
            "state.rows_dropped_by_watermark": st["rows_dropped_by_watermark"],
            "sink.add_batch_ms": ph3.get("addBatch", 0),
            "sink.wal_commit_ms": ph3.get("walCommit", 0),
            "sink.commit_offsets_ms": ph3.get("commitOffsets", 0),
            "sink.files": files["files"],
            "sink.bytes": files["bytes"],
            "sink.orphan_files": files["orphans"],
            "driver.batches": len(u.progress),
            "driver.query_planning_ms": ph3.get("queryPlanning", 0),
            "driver.non_add_batch_ms": ph3.get("triggerExecution", 0) - ph3.get("addBatch", 0),
            "udfs.noop_s": a1,
            "udfs.windows_per_s": exp["windows"] / a1,
        }
        return m, [plain, u]


def spans_from_progress(tracer, root: int, progress: list) -> None:
    """Child spans of the unit from the phase durations each micro-batch
    reports, laid out in execution order from the batch's start time."""
    from datetime import datetime

    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
             "commitOffsets")
    wall_to_perf = time.perf_counter() - time.time()
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        start += wall_to_perf
        d = p.get("durationMs") or {}
        b = tracer.add("batch", start, start + d.get("triggerExecution", 0) / 1e3, root)
        t = start
        for ph in order:
            if ph in d:
                tracer.add(ph, t, t + d[ph] / 1e3, b)
                t += d[ph] / 1e3


# --- batch CLI workload -------------------------------------------------------


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class BatchTsv:
    """``cli.main`` default mode over a parquet directory: full window stats
    with k=2..4 vectors, sorted, to the five reference TSVs; a few pages
    take the oversized-document path. Each unit writes a fresh output
    directory. A unit's output is checked row by row unless its bytes equal
    an output that already passed the full check."""

    name = "batch_tsv"
    kernel_f32 = True

    def __init__(self):
        self._verified: set[str] = set()

    def generate(self, seed, src):
        from fasta_windows_spark.functions.udfs import OVERSIZE_DOC_BYTES

        return gen.batch_pages(seed, src, 4, 300, 4000, 16000, 2,
                               OVERSIZE_DOC_BYTES + 30_000)

    def kernel_texts(self, inp) -> list[str]:
        return inp.pages["text"].tolist()

    def expect(self, inp):
        n = sum(-(-len(t.encode("utf-8")) // 1000) for t in inp.pages["text"])
        return {"windows": n, "pages": len(inp.pages), "pages_df": inp.pages}

    def outputs(self, out_dir):
        kinds = ["freq"] + [k for k, _ in gate.TSV_VECTORS]
        return [os.path.join(out_dir, f"run_{k}_windows.tsv") for k in kinds]

    def unit(self, ctx: Ctx, inp: gen.Inputs, exp: dict, tracer=None) -> Unit:
        from fasta_windows_spark import cli

        out = ctx.fresh("cli")
        argv = ["-f", inp.src, "-o", "run", "--out-dir", out,
                "--master", f"local[{ctx.cores}]"]
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            rc = cli.main(argv)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise UnitFailed(f"cli.main returned {rc}")
        return Unit(wall=wall, windows=exp["windows"],
                    batch_ms=[wall * 1e3], out=out)

    def check(self, u: Unit, exp: dict) -> list:
        digest = _digest(self.outputs(u.out))
        if digest in self._verified:
            return []
        errs = gate.check_tsvs(u.out, "run", exp["pages_df"], 1000)
        if not errs:
            self._verified.add(digest)
        return errs

    def udf_frame(self, df):
        from fasta_windows_spark.functions.udfs import window_stats

        return window_stats(df, id_cols=["url"], window=1000, with_vectors=True, f32=True)

    def layers(self, ctx: Ctx, inp: gen.Inputs, exp: dict, tracer, events, l0: float):
        """L1 scan -> UDF -> noop, drain = the sorted UDF frame pulled to the
        driver as writer rows, write = the TSV writer alone over those rows
        in memory, L3 = ``cli.main``. The kernel's share of the wall is the
        one-core L0 time over the scan's task count."""
        from fasta_windows_spark.sink_tsv import spark_rows_to_writer_iter, write_reference_tsvs

        df = ctx.spark.read.parquet(inp.src)
        tasks = max(1, min(ctx.cores, df.rdd.getNumPartitions()))
        with events.window("L1"), tracer.span("udfs.noop"):
            t = time.perf_counter()
            self.udf_frame(df).write.format("noop").mode("overwrite").save()
            l1 = time.perf_counter() - t
        with tracer.span("sink_tsv.drain"):
            frame = self.udf_frame(df).orderBy("url", "w_start")
            rows, drain = timed(lambda: list(spark_rows_to_writer_iter(frame)))
        with tracer.span("sink_tsv.write"):
            paths, write = timed(write_reference_tsvs, rows, ctx.fresh("write"), "w",
                                 presorted=True)
        plain = self.unit(ctx, inp, exp)
        with events.window("L3"), tracer.span("unit"):
            u = self.unit(ctx, inp, exp)
        kern = l0 / tasks
        self_s = {
            "kernels": kern, "udfs": l1 - kern, "driver": drain - l1,
            "sink_tsv": write,
        }
        m = {
            **{f"self.{k}_s": v for k, v in self_s.items()},
            "self.wall_s": u.wall,
            "layers.accounted_frac": sum(self_s.values()) / u.wall,
            "layers.negative_self": sum(v < 0 for v in self_s.values()),
            "trace.overhead_frac": u.wall / plain.wall - 1,
            "sources.rows_in": len(inp.pages),
            "sources.text_bytes_in": int(sum(len(t) for t in inp.pages["text"])),
            "udfs.noop_s": l1,
            "udfs.windows_per_s": exp["windows"] / l1,
            "sink_tsv.drain_s": drain,
            "sink_tsv.write_s": write,
            "sink_tsv.bytes_written": sum(os.path.getsize(p) for p in paths.values()),
            "driver.batches": 1,
        }
        return m, [plain, u]


WORKLOADS = {w.name: w for w in (StreamCounts, BatchTsv)}
