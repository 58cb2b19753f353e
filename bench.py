#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys: windows_per_sec (streaming throughput on the synthetic pages
stream — the BASELINE.json headline metric) and environment info. All logs
go to stderr; stdout carries exactly the one JSON line.

Scaling protocol (local[8] vs local[32]) lives in bench_scaling.py, which
writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def log(*a):
    print(*a, file=sys.stderr, flush=True)


HEADLINE = [
    "doc_windows_stats",        # flagship: full per-window stats suite
    "doc_windows_kmer4",        # dense 4-mer vectors (DNA-ized text)
    "doc_windows_ctw",          # sequential CTW kernel (the expensive op)
    "doc_source_ngram_agg",     # merge/finisher aggregation shape
    "events_sliding_1h_15m",    # sliding event-time windows
    "events_session_10m",       # session windows
    "tpch_revenue_by_nation",   # broadcast star join
    "docs_minhash_signatures",  # MinHash (JVM expression pipeline)
    "docs_simhash",             # SimHash one-pass HOF fold (zero shuffle)
    "docs_jaccard_pairs",       # inverted-index near-dup join
    "emb_cosine_neighbors",     # embedding similarity
    # round-3/4 families (VERDICT r3 #8: the new surface must be visible
    # to round-over-round regression tracking) — the most expensive
    # representative of each:
    "docs_host_pagerank",       # iterative fixed-point graph (3 rounds)
    "docs_dedup_spans_rewrite", # CDC exact-substring dedup + reassembly
    "docs_pack_segments",       # token-tape packing (segmented prefix sum)
    "emb_kmeans_search",        # trained IVF ANN (Lloyd's fit + probe)
    "emb_pq_search",            # IVF-PQ ADC search (fit + encode + LUT)
    "docs_bpe_token_counts",    # real BPE counts (vocab-only Arrow pass)
    "docs_lang_id_rank",        # rank-profile lang ID (train + classify)
    "docs_heavy_hitters_cms",   # count-min sketch heavy hitters
    # round-4 third-session families:
    "docs_bm25_search",         # exact cross-engine BM25 retrieval
    "docs_minhash_incremental", # daily-increment band join vs index
    "docs_zorder_layout",       # Morton key + file assignment
    # round-5 families (bench grows in lockstep with the contract):
    "emb_semdedup",             # SemDeDup: k-means cells + in-cell cosine
    "tpch_q20_promotion_stock", # derived-partsupp family: widest join tree
    "docs_dup_components_star", # large-star/small-star CC (edge rewriting)
    "docs_dsir_sample",         # DSIR importance weights + Gumbel top-k
    "emb_sq8_search",           # SQ8 scalar-quantized ANN (fit + search)
    "docs_perceptron_scores",   # perceptron classifier: train + inference
    "docs_epoch_order",         # epoch shuffle: distributed exact ranking
    # round-5 fourth-session families:
    "docs_snapshot_drift",      # exact TV drift between crawl snapshots
    "docs_window_drift",        # per-window drift (streaming op, batch face)
    "docs_robots_filter",       # RFC 9309 longest-prefix robots gate
    "emb_fps_centers",          # farthest-point coreset (k greedy passes)
    # round-5 fifth-session families:
    "emb_bq_reranked",          # 1-bit Hamming shortlist + exact re-rank
    "docs_winnow_overlap_pairs",  # winnowing fingerprint local overlap
    "docs_drop_provenance",     # per-doc curation audit (4 gates composed)
    # round-5 sixth-session families:
    "docs_host_triangles",      # oriented-wedge triangle counting
    "docs_redirect_resolve",    # redirect chains via pointer doubling
    # round-5 seventh-session families:
    "docs_jaccard_join_exact",  # exact PPJoin prefix-filtered tau-join
    "docs_postings_bytes",      # inverted-index varint layout audit
    "docs_heavy_hitters_exact",  # MG batch face (threshold bigrams)
    "docs_hybrid_rrf",          # BM25 + ANN reciprocal rank fusion
]


def run_query(spark, fn, sf_dir: str, repeats: int = 3) -> float:
    """Min-of-k wall per query: this VM's sustained rate drifts +-20-50%
    between identical runs (hypervisor contention), so a single shot mostly
    measures ambient load; the minimum removes additive noise. Min-of-3
    (was 2): observed same-session spreads of 1.6x on the join-heavy
    queries under throttle windows — a third sample costs ~15 s total and
    roughly halves the odds the recorded number is a throttled one."""
    best = None
    for _ in range(repeats):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def streaming_windows_per_sec(spark, scratch: str, n_pages: int = 24000) -> dict:
    """End-to-end streaming throughput on the BASELINE.json headline shape,
    run as the library's `streaming/pipeline.host_window_stats`: pages
    stream -> per-page positional window counts (W=1000 bytes, Arrow
    kernel) -> watermarked 10-minute host-window agg -> exactly-once
    parquet sink. Reports sustained POSITIONAL windows/sec (the unit the
    scaling bench and the reference count), plus pages/sec and text
    MB/s."""
    import pyspark.sql.functions as F

    from fasta_windows_spark.sources import pages as P
    from fasta_windows_spark.streaming import pipeline as S

    src = os.path.join(scratch, "pages_src")
    out = os.path.join(scratch, "pages_out")
    ck = os.path.join(scratch, "pages_ck")
    for d in (src, out, ck):
        shutil.rmtree(d, ignore_errors=True)
    pdf = P.gen_pages(
        n_pages=n_pages, n_hosts=200, n_hot_hosts=4, seed=42,
        min_len=4000, max_len=12000,
    )
    total_chars_in = int(pdf["text"].str.len().sum())
    # one file per core: the file-source's read parallelism is file-bounded
    P.write_pages_parquet(pdf, src, n_files=32)

    t0 = time.perf_counter()
    agg = S.host_window_stats(S.read_pages_stream(spark, src), window_bytes=1000)
    q = S.write_exactly_once(agg, out, ck)
    finished = q.awaitTermination(600)
    wall = time.perf_counter() - t0
    if not finished:
        # partial sink output must never be scored as a completed run
        q.stop()
        return {"streaming_wall_sec": round(wall, 2), "streaming_timeout": True}
    res = spark.read.parquet(out)
    n_windows = int(res.agg(F.sum("n_windows")).collect()[0][0] or 0)
    return {
        "streaming_wall_sec": round(wall, 2),
        "streaming_pages": n_pages,
        "streaming_windows": n_windows,
        "windows_per_sec": round(n_windows / wall, 1),
        "pages_per_sec": round(n_pages / wall, 1),
        "text_mb_per_sec": round(total_chars_in / 1e6 / wall, 1),
    }


def capstone_pages_per_sec(spark, scratch: str, n_pages: int = 24000) -> dict:
    """Throughput of the north-star CAPSTONE plan (the full BASELINE.json
    sentence in one query): per-page byte counts from the window kernel
    (one whole-page window) -> stateful
    stream-stream join with the late lang-detection side stream ->
    event-time windowed stats keyed by (host, detected_lang) ->
    exactly-once sink. Reports pages/sec through the chained-stateful
    pipeline plus emitted result rows."""
    from fasta_windows_spark.sources import pages as P
    from fasta_windows_spark.streaming import pipeline as S

    src = os.path.join(scratch, "cap_pages")
    lsrc = os.path.join(scratch, "cap_lang")
    out = os.path.join(scratch, "cap_out")
    ck = os.path.join(scratch, "cap_ck")
    for d in (src, lsrc, out, ck):
        shutil.rmtree(d, ignore_errors=True)
    pdf = P.gen_pages(
        n_pages=n_pages, n_hosts=200, n_hot_hosts=4, seed=42,
        min_len=4000, max_len=12000,
    )
    P.write_pages_parquet(pdf, src, n_files=32)
    lang_pdf = P.gen_lang_detect(pdf)
    os.makedirs(lsrc, exist_ok=True)
    lang_pdf.to_parquet(
        os.path.join(lsrc, "part-0000.parquet"), index=False, coerce_timestamps="us"
    )

    t0 = time.perf_counter()
    pages = S.read_pages_stream(spark, src)
    lang = spark.readStream.schema(S.LANG_SCHEMA).parquet(lsrc)
    agg = S.north_star_stats_with_lang(pages, lang, window="10 minutes")
    q = S.write_exactly_once(agg, out, ck)
    finished = q.awaitTermination(600)
    wall = time.perf_counter() - t0
    if not finished:
        q.stop()
        return {"capstone_wall_sec": round(wall, 2), "capstone_timeout": True}
    rows = spark.read.parquet(out).count()
    return {
        "capstone_wall_sec": round(wall, 2),
        "capstone_rows": int(rows),
        "capstone_pages_per_sec": round(n_pages / wall, 1),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from fasta_windows_spark import contract
    from fasta_windows_spark.session import get_spark

    spark = get_spark(
        app_name="fw-spark-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    qs = contract.queries()
    # JVM/Arrow/python-worker warmup so the first timed query isn't charged
    # for session spin-up
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(32).count()
    qs["doc_windows_entropy6"](spark, sf_dir).limit(32).count()
    times: dict[str, float] = {}
    for name in HEADLINE:
        log(f"[bench] {name} ...")
        times[name] = round(run_query(spark, qs[name], sf_dir), 3)
        log(f"[bench] {name}: {times[name]}s")

    scratch = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch", "bench")
    os.makedirs(scratch, exist_ok=True)
    # best-of-3: identical streaming runs on this VM spread 3.6s..21.5s wall
    # (hypervisor CPU/DRAM throttling windows, see BENCH/BASELINE.md) — with
    # a ~0.3 chance of a throttled draw, best-of-2 still misreads capability
    # ~10% of the time; best-of-3 drops that to ~3% for ~15s extra
    # one UNSCORED warmup first: the first streaming run in a JVM is
    # reliably 4-6x under the plateau (state-store + codegen + shuffle
    # machinery cold start: measured 6.3k/8.2k warmup vs 35-42k plateau
    # on the same host, 2026-08-20 ledger) — scoring it would measure JIT,
    # not the engine; standard warmup-excluded benchmarking practice
    streaming_windows_per_sec(spark, scratch)
    stream_stats = None
    for _ in range(3):
        st = streaming_windows_per_sec(spark, scratch)
        log(f"[bench] streaming: {st}")
        if stream_stats is None or st.get("windows_per_sec", 0) > stream_stats.get(
            "windows_per_sec", 0
        ):
            stream_stats = st
    cap_stats = None
    for _ in range(2):
        cs = capstone_pages_per_sec(spark, scratch)
        log(f"[bench] capstone: {cs}")
        if cap_stats is None or cs.get("capstone_pages_per_sec", 0) > cap_stats.get(
            "capstone_pages_per_sec", 0
        ):
            cap_stats = cs
    shutil.rmtree(scratch, ignore_errors=True)

    total = round(sum(times.values()), 3)
    scaling = {}
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    for mode in ("entropy", "stats"):
        p = os.path.join(bench_dir, f"scaling_{mode}.json")
        if os.path.exists(p):
            sc = json.load(open(p))
            scaling[f"scaling_efficiency_{mode}"] = sc.get("scaling_efficiency")
            scaling[f"scaling_cores_{mode}"] = (
                f"{sc.get('low', {}).get('cores')}->{sc.get('high', {}).get('cores')}"
            )
    if "scaling_efficiency_entropy" in scaling:
        # headline: the CPU-bound mode (the reference's own expensive path)
        scaling["scaling_efficiency"] = scaling["scaling_efficiency_entropy"]
    # the r1-r3 headline summed exactly the first 11 queries; r4 added six
    # expensive new families to the suite, so `value` is not comparable
    # across that boundary — `value_legacy11` is, by construction
    legacy11 = round(sum(times[q] for q in HEADLINE[:11] if q in times), 3)
    result = {
        "metric": "headline query suite wall-clock at sf + streaming windows/sec",
        "value": total,
        "value_legacy11": legacy11,
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        **stream_stats,
        **cap_stats,
        **scaling,
        "cpus": cpus,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
