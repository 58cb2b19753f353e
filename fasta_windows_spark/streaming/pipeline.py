"""Structured Streaming graphs: the event-time re-expression of the
reference's windowed statistics (SURVEY.md §2.7, north_rule).

Hot path shape: pages -> the Arrow-batched positional window kernel
(``functions/udfs.window_stats``, counts only) -> watermark on its output
-> windowed hash-aggregate in the RocksDB state store (partial aggregation
before the shuffle is automatic for streaming aggs) -> exactly-once sink,
with zero per-row Python. Every host-window aggregate here (tumbling,
sliding, salted, session, the north-star join) shares that one map side
(`_window_counts`) and one aggregate list, so lengths are UTF-8 bytes, as
in the reference (seq_statsu8.rs), and a page with empty text counts
nowhere.

Sink: Spark's parquet file sink (``write_exactly_once``) with its
_spark_metadata transaction log — batch commits are atomic and replay is
idempotent, the exactly-once contract an Iceberg table would also give.
The pyspark distribution ships no Iceberg runtime, so none is wired in.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

LANG_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("detect_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based streaming source (sandbox stand-in for the Iceberg/ Kafka
    pages stream). maxFilesPerTrigger controls micro-batch granularity."""
    r = spark.readStream.schema(PAGE_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.option("latestFirst", "false").parquet(path)


def with_host(df: DataFrame) -> DataFrame:
    """id-trimming analog (entropy.rs:109-113): the grouping key is the
    url-host, extracted JVM-side."""
    return df.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))


_CNT_COLS = ("cnt_a", "cnt_c", "cnt_g", "cnt_t", "cnt_n")
_SUM_COLS = ("n_windows", "n_pages", "total_chars", *_CNT_COLS)

# one window per page: the whole-page window (`kmer_long_rows`' default)
_PAGE_WINDOW = 1 << 30


def _window_counts(
    pages: DataFrame, window_bytes: int, watermark: str, extra_cols: tuple = ()
) -> DataFrame:
    """The one map side of every host-window aggregate: the positional
    window kernel (``functions/udfs.window_stats``) over each page's text,
    counts only — one row per (page, window) with its UTF-8 byte length
    and case-folded ACGTN counts — watermarked on warc_ts. `extra_cols`
    ride through (e.g. a salt key). A page with empty (or null) text makes
    no window."""
    from ..functions.udfs import window_stats

    return window_stats(
        with_host(pages),
        id_cols=["host", "warc_ts", *extra_cols],
        window=window_bytes,
        fields=["win_len", *_CNT_COLS],
        f32=False,
    ).withWatermark("warc_ts", watermark)


def _window_count_aggs() -> list:
    """The aggregate list over `_window_counts` rows; merging = summing.
    Each non-empty page has exactly one window starting at byte 0, so
    counting those counts pages."""
    return [
        F.count("*").alias("n_windows"),
        F.count_if(F.col("w_start") == 0).alias("n_pages"),
        F.sum("win_len").alias("total_chars"),
        *[F.sum(c).alias(c) for c in _CNT_COLS],
    ]


def _entropy6_finisher() -> F.Column:
    """Closed-form 6-bin Shannon entropy from merged counts (column arith)."""
    ln = F.col("total_chars").cast("double")
    oth = (
        F.col("total_chars")
        - F.col("cnt_a")
        - F.col("cnt_c")
        - F.col("cnt_g")
        - F.col("cnt_t")
        - F.col("cnt_n")
    ).cast("double")
    terms = []
    for c in _CNT_COLS:
        x = F.col(c).cast("double")
        terms.append(F.when(x > 0, (x / ln) * F.log2(x / ln)).otherwise(0.0))
    terms.append(F.when(oth > 0, (oth / ln) * F.log2(oth / ln)).otherwise(0.0))
    return -sum(terms[1:], start=terms[0])


def _finish_host_window(agg: DataFrame, keys: tuple = ()) -> DataFrame:
    """Shared finisher: scalar stats from merged (w, host, *keys) count
    columns."""
    gc_den = (F.col("cnt_g") + F.col("cnt_c") + F.col("cnt_a") + F.col("cnt_t")).cast(
        "double"
    )
    return agg.select(
        F.col("w.start").alias("w_start"),
        F.col("w.end").alias("w_end"),
        "host",
        *keys,
        *_SUM_COLS,
        F.round(_entropy6_finisher(), 6).alias("entropy6_merged"),
        F.round(
            (F.col("cnt_g") + F.col("cnt_c")).cast("double") / F.nullif(gc_den, F.lit(0)),
            6,
        ).alias("gc_prop"),
    )


def host_window_stats(
    pages: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    window_bytes: int = 1000,
) -> DataFrame:
    """Tumbling/sliding event-time windowed aggregation keyed by url-host:
    the F.window analog of chunks(window_size) (fw.rs:83). Append-mode
    emission once the watermark passes the window end; late rows dropped.

    Map side: the positional window kernel cuts each page into
    `window_bytes`-byte windows (`_window_counts`); the watermark sits on
    its output, so ``numRowsDroppedByWatermark`` counts window rows, not
    pages. Per (window, host): ``n_windows`` positional windows,
    ``n_pages`` pages, ``total_chars`` UTF-8 BYTES (the reference's u8
    unit, seq_statsu8.rs) and the case-folded ACGTN counts, then
    ``entropy6_merged`` and ``gc_prop``. Only ``n_windows`` depends on
    `window_bytes`. A page with empty text makes no window, so it counts
    in no column — the reference emits nothing for an empty record."""
    rows = _window_counts(pages, window_bytes, watermark)
    win = F.window("warc_ts", window, slide) if slide else F.window("warc_ts", window)
    agg = rows.groupBy(win.alias("w"), "host").agg(*_window_count_aggs())
    return _finish_host_window(agg)


def salted_host_window_partials(
    pages: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    salt_buckets: int = 8,
    window_bytes: int = 1000,
) -> DataFrame:
    """Stage 1 of the salted hot-host aggregation: group by (window, host,
    salt) so one viral host's rows land on `salt_buckets` state-store keys
    (and shuffle partitions) instead of one. Salt is DETERMINISTIC per url
    (xxhash64 mod buckets) — a replayed micro-batch after failure re-salts
    identically, which rand() would not (exactly-once safety). Same map
    side and aggregates as `host_window_stats`."""
    salted = pages.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets)).cast("int")
    )
    rows = _window_counts(salted, window_bytes, watermark, ("salt",))
    return rows.groupBy(F.window("warc_ts", window).alias("w"), "host", "salt").agg(
        *_window_count_aggs()
    )


def host_window_stats_salted(
    pages: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    salt_buckets: int = 8,
    window_bytes: int = 1000,
) -> DataFrame:
    """Hot-host-skew-safe twin of `host_window_stats` (north_rule skew item,
    VERDICT r2 item 5): salted pre-aggregation into `salt_buckets` keys per
    host, then a second CHAINED streaming aggregation (window_time-keyed,
    supported since Spark 3.5) merges the partials back to one row per
    (window, host). Output is identical to the unsalted aggregation — only
    the state/shuffle distribution changes: per-key state rows and per-task
    merge input are bounded by 1/salt_buckets of the hot host's traffic,
    while the stage-2 merge handles salt_buckets tiny rows per host."""
    partials = salted_host_window_partials(
        pages, window, watermark, salt_buckets, window_bytes
    )
    merged = partials.groupBy(
        F.window(F.window_time("w"), window).alias("w"), "host"
    ).agg(*[F.sum(c).alias(c) for c in _SUM_COLS])
    return _finish_host_window(merged)


def host_session_stats(
    pages: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows keyed by url-host (SURVEY.md §2.7): ``n_pages`` and
    ``total_chars`` (UTF-8 bytes) per session, from the shared map side at
    one window per page. Pages with empty text make no window."""
    rows = _window_counts(pages, _PAGE_WINDOW, watermark)
    return (
        rows.groupBy(F.session_window("warc_ts", gap).alias("w"), "host")
        .agg(*_window_count_aggs())
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "host",
            "n_pages",
            "total_chars",
        )
    )


def kmer_long_rows(pages: DataFrame, ks=(2, 3, 4), window_chars: int | None = None) -> DataFrame:
    """Per-page k-mer count vectors in LONG format (host, warc_ts, k, idx,
    cnt): the scalable streaming representation of the dense 4^k arrays —
    merging = built-in sum per (window, host, k, idx), so the streaming
    hash-aggregate needs no array UDAF and state stays per-key-small.
    window_chars: optionally split pages into positional windows of this
    many UTF-8 bytes first (None = whole page, the event-time-window use
    case). The vectors come from the Arrow window kernel; the long form is
    a JVM posexplode that keeps nonzero counts only."""
    from ..functions.udfs import window_stats

    ws = window_stats(
        with_host(pages),
        id_cols=["host", "warc_ts"],
        window=window_chars or _PAGE_WINDOW,
        with_vectors=True,
        fields=[],
    )
    vecs = F.array(
        *[F.struct(F.lit(k).alias("k"), F.col(f"k{k}_vec").alias("vec")) for k in ks]
    )
    return (
        ws.select("host", "warc_ts", F.explode(vecs).alias("kv"))
        .select(
            "host",
            "warc_ts",
            F.col("kv.k").alias("k"),
            F.posexplode("kv.vec").alias("idx", "cnt"),
        )
        .where(F.col("cnt") > 0)
        .select("host", "warc_ts", "k", "idx", F.col("cnt").cast("long").alias("cnt"))
    )


def host_window_kmer_agg(
    pages: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    ks=(2,),
) -> DataFrame:
    """Streaming count-vector merge (SURVEY.md §4 custom item 2) in long
    format: groupBy(window, host, k, idx).sum(cnt) — built-in incremental
    aggregation, RocksDB state, watermark eviction."""
    rows = kmer_long_rows(pages, ks=ks).withWatermark("warc_ts", watermark)
    return (
        rows.groupBy(F.window("warc_ts", window).alias("w"), "host", "k", "idx")
        .agg(F.sum("cnt").alias("cnt"))
        .select(
            F.col("w.start").alias("w_start"),
            "host",
            "k",
            "idx",
            "cnt",
        )
    )


def _lang_join_cond(bound: str):
    """Same host as the page (alias ``p``), detected (alias ``l``) within
    +/- `bound` of its warc_ts: the time bound that lets the watermarks
    evict stream-stream join state."""
    return (
        (F.col("p.host") == F.col("l.host"))
        & (F.col("l.detect_ts") >= F.col("p.warc_ts") - F.expr(f"INTERVAL {bound}"))
        & (F.col("l.detect_ts") <= F.col("p.warc_ts") + F.expr(f"INTERVAL {bound}"))
    )


def join_lang_stream(
    pages: DataFrame,
    lang: DataFrame,
    bound: str = "1 hour",
    pages_watermark: str = "10 minutes",
    lang_watermark: str = "30 minutes",
) -> DataFrame:
    """J1: stateful stream-stream left-outer join — page rows correlated with
    late-arriving lang detections for the same host within +/- `bound` of
    warc_ts. Watermarks on both sides bound the join state (RocksDB)."""
    p = with_host(pages).withWatermark("warc_ts", pages_watermark).alias("p")
    l = lang.withWatermark("detect_ts", lang_watermark).alias("l")
    return p.join(l, _lang_join_cond(bound), "leftOuter").select(
        F.col("p.url").alias("url"),
        F.col("p.warc_ts").alias("warc_ts"),
        F.col("p.host").alias("host"),
        F.col("p.lang").alias("page_lang"),
        F.col("l.lang").alias("detected_lang"),
        F.col("l.confidence").alias("confidence"),
    )


def north_star_stats_with_lang(
    pages: DataFrame,
    lang: DataFrame,
    window: str = "10 minutes",
    bound: str = "30 minutes",
    pages_watermark: str = "10 minutes",
    lang_watermark: str = "30 minutes",
) -> DataFrame:
    """The BASELINE.json north-star sentence as ONE chained-stateful plan:
    per-page window-stats counts, correlated with the late-arriving
    lang-detection side stream (stateful stream-stream join), aggregated
    into event-time tumbling windows keyed by (host, detected_lang), ready
    for the exactly-once sink. Two scale decisions:

    1. Counts REDUCE BEFORE the join: the shared map side
       (`_window_counts`, one whole-page window) collapses each page to
       one row of longs (byte length + case-folded ACGTN counts) before
       touching join state, so the RocksDB join buffer holds ~100
       bytes/page instead of the page text — at 10^12 pages the
       difference between a working join and an OOM.
    2. The join is INNER within ±`bound` of warc_ts with watermarks on
       both sides (state eviction), then the windowed aggregation chains
       as a SECOND stateful operator (supported since Spark 3.5's multiple
       stateful operators; watermark propagates through the join). Each
       (page, detection) correlation contributes once — the same relational
       semantics the batch twin computes, so stream == batch is exact.

    Batch twin: this SAME function over static frames (withWatermark is a
    no-op in batch plans — EliminateEventTimeWatermark), pinned by
    `test_north_star_pipeline_stream_matches_batch`. Bytes, not
    characters, and a page with empty text counts nowhere, as in
    `host_window_stats`."""
    counts = _window_counts(pages, _PAGE_WINDOW, pages_watermark).alias("p")
    l = lang.withWatermark("detect_ts", lang_watermark).alias("l")
    joined = counts.join(l, _lang_join_cond(bound), "inner").select(
        F.col("p.host").alias("host"),
        F.col("p.warc_ts").alias("warc_ts"),
        F.col("l.lang").alias("detected_lang"),
        "w_start",
        "win_len",
        *_CNT_COLS,
    )
    agg = joined.groupBy(
        F.window("warc_ts", window).alias("w"), "host", "detected_lang"
    ).agg(*_window_count_aggs())
    return _finish_host_window(agg, keys=("detected_lang",))


def filter_blocklist_stream(
    pages: DataFrame, hosts: DataFrame, anti: bool = True
) -> DataFrame:
    """Stream-static join: filter the page stream against a STATIC host
    table — the crawl-hygiene step (spam/adult/opt-out domain blocklists,
    or a curated allowlist). The static side re-resolves per micro-batch
    (so an updated blocklist table takes effect on the next trigger) and
    plans as a broadcast hash semi/anti join: unlike a stream-stream join
    this touches NO state store and needs no watermark, so it adds zero
    state at 10^12-row scale. anti=True drops listed hosts (LEFT ANTI);
    anti=False keeps only listed hosts (LEFT SEMI)."""
    p = with_host(pages)
    return p.join(
        F.broadcast(hosts.select("host")), "host", "left_anti" if anti else "left_semi"
    )


def host_window_distinct_urls(
    pages: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    rsd: float = 0.05,
) -> DataFrame:
    """Streaming unique-visitors metric: approx distinct urls per
    (event-time window, host) via HLL++ sketches merged in the state store.
    The sketch register array is the per-group state — constant size per
    group regardless of url cardinality, which is the point at 10^12 rows:
    exact distinct state grows with the key universe, the sketch does not.
    Register merge is a commutative max, so the streamed estimate is
    IDENTICAL to the batch estimate on the same input (asserted in
    tests), not merely close."""
    return (
        with_host(pages)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "host")
        .agg(
            F.approx_count_distinct("url", rsd).alias("n_urls_approx"),
            F.count("*").alias("n_pages"),
        )
        .select(
            F.col("w.start").alias("w_start"), "host", "n_urls_approx", "n_pages"
        )
    )


def window_novelty_stream(
    pages: DataFrame,
    index_shingles: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    shingle_words: int = 3,
) -> DataFrame:
    """Live corpus-novelty monitor: per event-time window, how many of
    the arriving pages' distinct word n-gram shingles the EXISTING index
    has never seen — the streaming face of `operators/dedup.
    increment_novelty` (same xxhash64 shingling), watched as a rate: a
    window whose novelty collapses means the crawl is re-fetching what
    the corpus already has. Emits (w_start, n_pages, n_shingles,
    n_novel, novelty_frac).

    Plan shape: one narrow shingle explode on the stream, a
    stream-static LEFT OUTER join against the persisted index shingle
    table (per micro-batch; at 10^12 docs that table is bucketed on
    shingle so the probe is shuffle-one-side — do NOT broadcast it),
    then a watermarked windowed aggregate whose state is one counter row
    per window. The same call composes in batch for the stream==batch
    differential (withWatermark is a no-op on static frames)."""
    from ..operators.dedup import word_shingle_array_sql

    sh = (
        pages.withWatermark("warc_ts", watermark)
        # project the token array ONCE per row (HOF lambdas don't hoist
        # the split), and filter short pages out instead of generating a
        # backwards index range — Spark sequence(0, stop) DESCENDS when
        # stop < 0 (the cdc_chunks lesson)
        .select("warc_ts", F.expr("split(lower(text), ' ')").alias("toks"))
        .where(F.expr("size(toks)") >= shingle_words)
        .select(
            "warc_ts",
            # pos marks each page's FIRST shingle row: count_if(pos = 0)
            # is an exact page count without a distinct aggregate (which
            # streaming aggregation rejects)
            F.posexplode(
                F.expr(word_shingle_array_sql("toks", shingle_words))
            ).alias("pos", "shingle"),
        )
    )
    # dedupe the probe side: the production index is appended per
    # increment, so a shingle seen by two increments has two rows — a
    # left_outer match against k rows would multiply every counter by k
    idx = index_shingles.select("shingle").distinct().select(
        F.col("shingle"), F.lit(True).alias("_seen")
    )
    joined = sh.join(idx, "shingle", "left_outer")
    return (
        joined.groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count_if(F.col("pos") == 0).cast("long").alias("n_pages"),
            F.count("*").alias("n_shingles"),
            F.count_if(F.col("_seen").isNull()).alias("n_novel"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "n_pages",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_novel").cast("long").alias("n_novel"),
            F.round(F.col("n_novel") / F.col("n_shingles").cast("double"), 6).alias(
                "novelty_frac"
            ),
        )
    )


def index_shingle_table(
    docs: DataFrame, text_col: str = "text", shingle_words: int = 3
) -> DataFrame:
    """The persisted index side `window_novelty_stream` probes: distinct
    xxhash64 word-shingle hashes of the existing corpus (at 10^12 docs
    this is written once, bucketed by shingle, and appended per
    increment)."""
    from ..operators.dedup import word_shingle_array_sql

    return (
        docs.select(F.expr(f"split(lower({text_col}), ' ')").alias("toks"))
        .where(F.expr("size(toks)") >= shingle_words)
        .select(
            F.explode(
                F.expr(word_shingle_array_sql("toks", shingle_words))
            ).alias("shingle")
        )
        .distinct()
    )


def clean_pages_stream(
    pages: DataFrame,
    blocklist: DataFrame | None = None,
    watermark: str = "10 minutes",
    min_words: int = 20,
    line_min_words: int = 0,
    line_blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """End-to-end streaming corpus curation — the full C4/Gopher cleaning
    pass as ONE streaming plan: host blocklist (broadcast anti-join, no
    state) -> URL dedup within the watermark horizon (the only stateful
    stage, state bounded by the horizon) -> line-level cleaning
    (`filter_lines`, when line_min_words > 0 or a line blocklist is given)
    -> Gopher quality gate over the CLEANED text -> PII scrub (all
    stateless JVM projections). Emits cleaned page rows ready for an
    exactly-once sink or the window-statistics aggregation.

    The same call composes in BATCH mode, where the dedup stage is plain
    dropDuplicates on url (dropDuplicatesWithinWatermark rejects static
    Datasets) — which is what the stream==batch differential test
    exploits."""
    from ..functions.text import filter_lines, gopher_filters, scrub_pii

    s = with_host(pages)
    if blocklist is not None:
        s = s.join(F.broadcast(blocklist.select("host")), "host", "left_anti")
    s = dedup_urls_stream(s, watermark) if s.isStreaming else s.dropDuplicates(["url"])
    if line_min_words > 0 or line_blocklist:
        s = filter_lines(
            s,
            text_col="text",
            min_words=line_min_words,
            blocklist=line_blocklist,
            project=False,
        )
    s = gopher_filters(
        s, text_col="text", id_col="url", min_words=min_words, project=False
    )
    s = s.where(F.col("gopher_keep")).drop("gopher_keep")
    return scrub_pii(s, text_col="text", id_col="url", project=False)


def dedup_urls_stream(pages: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact deduplication by url within the watermark horizon
    (``dropDuplicatesWithinWatermark``): the training-pipeline guard against
    re-crawled pages. State per url is evicted once the watermark passes
    warc_ts + horizon, so state stays bounded at 10^12-row scale — unlike
    plain dropDuplicates, whose state grows without bound on a stream."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def write_topn_hosts_per_window(
    agg: DataFrame,
    out_path: str,
    checkpoint: str,
    n: int = 3,
    once: bool = True,
):
    """Streaming top-N (hosts by total_chars per event-time window) via
    foreachBatch: ranking is not expressible inside an append-mode
    streaming aggregation, but every (window, host) row of a given window
    FINALIZES in the same micro-batch (the watermark crosses the window
    end exactly once), so a per-batch window-local rank over the emitted
    rows is exact — the foreachBatch post-processing pattern the reference
    TSV sinks also use (SURVEY.md §2.1 S4). Idempotent under micro-batch
    replay by construction: foreachBatch writes are BATCH writes outside
    the streaming commit log, so a crash between the sink write and the
    checkpoint commit replays the batch — each batch therefore OVERWRITES
    its own `batch_id=<id>` partition directory (the canonical
    foreachBatch exactly-once recipe; same effect as Iceberg's
    replace-partition commit), making the replay a no-op instead of an
    append-mode duplicate. Pinned by
    `test_foreachbatch_replay_is_idempotent`, which deletes the last
    checkpoint commit to force a real replay."""
    from pyspark.sql import Window as PW

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        w = PW.partitionBy("w_start").orderBy(
            F.desc("total_chars"), F.asc("host")
        )
        top = (
            batch_df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= n)
        )
        top.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    w = (
        agg.writeStream.foreachBatch(emit)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if once:
        w = w.trigger(availableNow=True)
    return w.start()


def write_exactly_once(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    once: bool = True,
):
    """Exactly-once parquet append sink with checkpointing; resumable (same
    checkpoint dir -> no dupes on restart)."""
    w = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
    if once:
        w = w.trigger(availableNow=True)
    return w.start()


# --- exactly-once sink snapshot reads (time travel over commit manifests) ----


def sink_batches(out_path: str) -> list[int]:
    """Committed batch ids of a file-sink output, from _spark_metadata."""
    import os

    meta = os.path.join(out_path, "_spark_metadata")
    ids = set()
    for name in os.listdir(meta):
        base = name[: -len(".compact")] if name.endswith(".compact") else name
        if not name.startswith(".") and base.isdigit():
            ids.add(int(base))
    return sorted(ids)


def _manifest_files(out_path: str, up_to_batch: int) -> list[str]:
    """Resolve the committed file set as of `up_to_batch` from the sink's
    transaction log (Spark FileStreamSinkLog v1 format: per-batch JSON-line
    manifests, periodically rolled into <b>.compact files that carry the
    full history up to b). Only manifest-listed 'add' actions count —
    orphan parquet files from failed/zombie attempts are invisible, which
    is exactly the sink's exactly-once contract."""
    import json
    import os

    meta = os.path.join(out_path, "_spark_metadata")
    compacts, plains = {}, {}
    for name in os.listdir(meta):
        if name.startswith("."):
            continue
        if name.endswith(".compact") and name[: -len(".compact")].isdigit():
            b = int(name[: -len(".compact")])
            if b <= up_to_batch:
                compacts[b] = name
        elif name.isdigit():
            b = int(name)
            if b <= up_to_batch:
                plains[b] = name
    start = max(compacts) if compacts else None
    names = ([compacts[start]] if start is not None else []) + [
        plains[b] for b in sorted(plains) if start is None or b > start
    ]
    paths: dict[str, bool] = {}
    for name in names:
        with open(os.path.join(meta, name)) as f:
            header = f.readline().strip()
            assert header == "v1", f"unknown sink log version {header!r}"
            for line in f:
                if not line.strip():
                    continue
                entry = json.loads(line)
                paths[entry["path"]] = entry.get("action", "add") == "add"
    return [p for p, added in paths.items() if added]


def read_sink_snapshot(
    spark: SparkSession, out_path: str, up_to_batch: int | None = None
) -> DataFrame:
    """Time-travel read of an exactly-once file sink: the rows committed
    as of `up_to_batch` (default: latest). The manifest IS the table —
    a batch's files become visible atomically with its manifest write,
    so this read is consistent under a concurrently running stream, and
    replayed/aborted attempts never surface. The Iceberg-snapshot
    semantics of the north rule, expressed over the file sink this
    sandbox can run."""
    batches = sink_batches(out_path)
    if up_to_batch is None:
        up_to_batch = batches[-1] if batches else -1
    elif batches and up_to_batch not in batches:
        # a log file below the retention window may have been deleted by
        # the running query; silently returning a partial file set would
        # be a WRONG snapshot, so refuse instead
        raise ValueError(
            f"batch {up_to_batch} has no manifest in {out_path} "
            f"(available: {batches[0]}..{batches[-1]})"
        )
    files = _manifest_files(out_path, up_to_batch)
    if not files:
        # schema from the full sink dir, rows from nothing
        return spark.read.parquet(out_path).limit(0)
    return spark.read.parquet(*files)


def read_sink_increment(
    spark: SparkSession,
    out_path: str,
    since_batch: int,
    up_to_batch: int | None = None,
) -> DataFrame:
    """INCREMENTAL snapshot read: only the rows committed AFTER
    `since_batch` (exclusive) up to `up_to_batch` (inclusive; default
    latest) — Iceberg's incremental-scan semantics over the file sink's
    manifest log. Because the sink is append-only (no 'delete' actions in
    practice), the increment is exactly the set difference of the two
    manifests' file lists, so a downstream consumer can process each
    batch range once and never rescan history — the consumption pattern
    that makes an exactly-once PRODUCER useful to an exactly-once
    CONSUMER. Raises like read_sink_snapshot when `since_batch` predates
    the retained manifest window (a silent partial diff would be wrong)."""
    batches = sink_batches(out_path)
    if up_to_batch is None:
        up_to_batch = batches[-1] if batches else -1
    elif batches and up_to_batch not in batches:
        raise ValueError(
            f"batch {up_to_batch} has no manifest in {out_path} "
            f"(available: {batches[0]}..{batches[-1]})"
        )
    if batches and since_batch not in batches:
        raise ValueError(
            f"batch {since_batch} has no manifest in {out_path} "
            f"(available: {batches[0]}..{batches[-1]})"
        )
    base = set(_manifest_files(out_path, since_batch))
    new_files = [
        f for f in _manifest_files(out_path, up_to_batch) if f not in base
    ]
    if not new_files:
        return spark.read.parquet(out_path).limit(0)
    return spark.read.parquet(*new_files)


def vacuum_sink_orphans(
    out_path: str, min_age_seconds: float = 3600.0, dry_run: bool = False
) -> list[str]:
    """Delete data files present in the sink directory but ABSENT from the
    latest committed manifest — the leftovers of crashed/zombie write
    attempts, which the manifest-based readers above already ignore but
    which hold disk (at 10^12 rows: real money) until removed. Safety:
    only files older than `min_age_seconds` are touched, so an IN-FLIGHT
    batch's files (written before their manifest commits) are never
    deleted — the same age guard Iceberg's remove_orphan_files uses, and
    for the same reason the DEFAULT is a nonzero hour, not 0 (a zero
    default would race a mid-commit batch and lose committed data; pass
    an explicit 0 only when no writer can possibly be running).
    Returns the deleted (or would-delete, when dry_run) relative paths.
    Never touches _spark_metadata: manifests are the table's history and
    time travel depends on them."""
    import os
    import time

    batches = sink_batches(out_path)
    referenced = set(_manifest_files(out_path, batches[-1])) if batches else set()
    # manifest paths may be absolute or relative to the sink root
    ref_names = {os.path.basename(p) for p in referenced}
    now = time.time()
    victims = []
    for name in sorted(os.listdir(out_path)):
        full = os.path.join(out_path, name)
        if name == "_spark_metadata" or not os.path.isfile(full):
            continue
        if not name.endswith(".parquet") or name.startswith("."):
            continue
        if name in ref_names:
            continue
        if now - os.path.getmtime(full) < min_age_seconds:
            continue
        victims.append(name)
        if not dry_run:
            os.remove(full)
    return victims
