"""Streaming semantics tests (SURVEY.md §5 item 4): exactly-once +
checkpoint resume, watermark late-data drop, session windows, stream-stream
join, and streaming-vs-batch aggregation parity — all on the deterministic
synthetic pages stream with a file source (bounded, drained via
availableNow/processAllAvailable)."""

import os

import pyspark.sql.functions as F
import pytest

from fasta_windows_spark.sources import pages as P
from fasta_windows_spark.streaming import pipeline as S


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_stream"))
    pdf = P.gen_pages(n_pages=600, n_hosts=10, seed=42)
    P.write_pages_parquet(pdf, d, n_files=6)
    return d


@pytest.fixture(scope="module")
def pages_pdf():
    return P.gen_pages(n_pages=600, n_hosts=10, seed=42)


def test_pages_deterministic():
    a = P.gen_pages(n_pages=50, seed=42)
    b = P.gen_pages(n_pages=50, seed=42)
    # byte-identical text per url across regenerations (BASELINE.json:15)
    assert (a["text"] == b["text"]).all() and (a["url"] == b["url"]).all()


def test_stream_window_agg_matches_batch(spark, pages_dir, pages_pdf, tmp_path):
    """Streaming tumbling-window agg == identical batch computation on the
    same input (late rows included here: watermark never drops anything when
    the stream is drained in one availableNow pass per file order... so use
    the final totals)."""
    stream = S.read_pages_stream(spark, pages_dir)
    agg = S.host_window_stats(stream, window="10 minutes", watermark="10 minutes")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = S.write_exactly_once(agg, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    batch = P.spark_pages(spark, pages_pdf)
    expected = S.host_window_stats(batch, window="10 minutes", watermark="10 minutes")
    # batch mode ignores the watermark -> drop streaming-dropped windows by
    # comparing only windows the stream emitted; every emitted window must
    # match the batch result exactly
    g = got.toPandas().set_index(["w_start", "host"]).sort_index()
    e = expected.toPandas().set_index(["w_start", "host"]).sort_index()
    assert len(g) > 0
    joined = g.join(e, how="left", rsuffix="_b")
    for c in ("n_pages", "total_chars", "cnt_a", "entropy6_merged", "gc_prop"):
        pd_col = joined[c].astype(float)
        pd_b = joined[f"{c}_b"].astype(float)
        assert ((pd_col == pd_b) | (pd_col.isna() & pd_b.isna())).all(), c


def test_exactly_once_checkpoint_resume(spark, pages_dir, tmp_path):
    """Kill after the first micro-batch, restart from the same checkpoint:
    no duplicates, final result == single-run result (idempotent commits)."""
    out1 = str(tmp_path / "once")
    ck1 = str(tmp_path / "ck_once")
    q = S.write_exactly_once(
        S.host_window_stats(S.read_pages_stream(spark, pages_dir)), out1, ck1
    )
    q.awaitTermination(120)
    single = spark.read.parquet(out1).count()

    out2 = str(tmp_path / "resumed")
    ck2 = str(tmp_path / "ck_resumed")
    # run 1: only one file per trigger; stop after the first progress
    stream = S.read_pages_stream(spark, pages_dir, max_files_per_trigger=1)
    agg = S.host_window_stats(stream)
    q1 = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out2)
        .option("checkpointLocation", ck2)
        .start()
    )
    while not q1.recentProgress:
        pass
    q1.stop()
    q1.awaitTermination(60)
    # run 2: same checkpoint, drain the rest
    q2 = S.write_exactly_once(
        S.host_window_stats(S.read_pages_stream(spark, pages_dir)), out2, ck2
    )
    q2.awaitTermination(120)
    resumed = spark.read.parquet(out2)
    assert resumed.count() == single
    assert (
        resumed.groupBy("w_start", "host").count().where(F.col("count") > 1).count()
        == 0
    ), "duplicate (window, host) rows after resume"


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows later than the watermark when their window is already closed are
    dropped (SURVEY.md §2.7). Construct two micro-batches: batch 2 carries an
    event 2 hours older than batch 1's max -> its window was finalized."""
    import pandas as pd

    d = str(tmp_path / "late_src")
    os.makedirs(d)
    base = pd.Timestamp("2024-01-01 10:00:00")
    rows1 = pd.DataFrame(
        {
            "url": [f"https://h.example/{i}" for i in range(4)],
            "warc_ts": [base + pd.Timedelta(minutes=m) for m in (0, 5, 50, 55)],
            "html": [b"x"] * 4,
            "text": ["ACGT"] * 4,
            "lang": ["en"] * 4,
        }
    )
    advancer = pd.DataFrame(
        {
            "url": ["https://h.example/adv"],
            "warc_ts": [base + pd.Timedelta(minutes=90)],
            "html": [b"x"],
            "text": ["ACGT"],
            "lang": ["en"],
        }
    )
    late = pd.DataFrame(
        {
            "url": ["https://h.example/late"],
            "warc_ts": [base + pd.Timedelta(minutes=1)],  # way behind watermark
            "html": [b"x"],
            "text": ["ACGT"],
            "lang": ["en"],
        }
    )
    # three micro-batches: data -> watermark advancer (the computed watermark
    # takes effect one batch after the events that produced it) -> late row
    p0 = os.path.join(d, "part-0000.parquet")
    p1 = os.path.join(d, "part-0001.parquet")
    p2 = os.path.join(d, "part-0002.parquet")
    rows1.to_parquet(p0, index=False, coerce_timestamps="us")
    advancer.to_parquet(p1, index=False, coerce_timestamps="us")
    late.to_parquet(p2, index=False, coerce_timestamps="us")
    # file source orders micro-batches by modification time: make it explicit
    now = os.stat(p2).st_mtime
    os.utime(p0, (now - 120, now - 120))
    os.utime(p1, (now - 60, now - 60))
    os.utime(p2, (now + 60, now + 60))

    stream = S.read_pages_stream(spark, d, max_files_per_trigger=1)
    agg = S.host_window_stats(stream, window="10 minutes", watermark="10 minutes")
    out = str(tmp_path / "late_out")
    ck = str(tmp_path / "late_ck")
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    res = spark.read.parquet(out).toPandas()
    first_window = res[res.w_start == base]
    # the late row (same 10:00 window) must NOT be double-counted: the
    # window emitted with the first batch's 2 rows only
    assert len(first_window) == 1
    assert int(first_window.n_pages.iloc[0]) == 2


def test_session_windows_stream(spark, pages_dir, tmp_path):
    stream = S.read_pages_stream(spark, pages_dir)
    sess = S.host_session_stats(stream, gap="2 minutes", watermark="10 minutes")
    out = str(tmp_path / "sess")
    q = S.write_exactly_once(sess, out, str(tmp_path / "sess_ck"))
    q.awaitTermination(120)
    res = spark.read.parquet(out)
    assert res.count() > 0
    # session invariant: end - start >= gap (end = last event + gap)
    bad = res.where(
        (F.col("session_end").cast("long") - F.col("session_start").cast("long")) < 120
    )
    assert bad.count() == 0


def test_stream_stream_join(spark, pages_dir, pages_pdf, tmp_path):
    lang_pdf = P.gen_lang_detect(pages_pdf)
    lang_dir = str(tmp_path / "lang_src")
    os.makedirs(lang_dir)
    lang_pdf.to_parquet(os.path.join(lang_dir, "part-0000.parquet"), index=False, coerce_timestamps="us")

    pages = S.read_pages_stream(spark, pages_dir)
    lang = (
        spark.readStream.schema(S.LANG_SCHEMA)
        .parquet(lang_dir)
    )
    joined = S.join_lang_stream(pages, lang, bound="30 minutes")
    out = str(tmp_path / "join_out")
    q = S.write_exactly_once(joined, out, str(tmp_path / "join_ck"))
    q.awaitTermination(180)
    res = spark.read.parquet(out)
    n = res.count()
    n_matched = res.where(F.col("detected_lang").isNotNull()).count()
    assert n >= 600  # every page appears (left outer), possibly multiplied
    assert 0 < n_matched  # and some correlations landed within the bound


def test_streaming_kmer_merge_matches_kernel(spark, pages_dir, pages_pdf, tmp_path):
    """Long-format streaming k-mer merge == direct kernel count on the
    concatenation of all pages per (window, host)."""
    stream = S.read_pages_stream(spark, pages_dir)
    agg = S.host_window_kmer_agg(stream, window="1 hour", watermark="10 minutes", ks=(2,))
    out = str(tmp_path / "kmer_out")
    q = S.write_exactly_once(agg, out, str(tmp_path / "kmer_ck"))
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas()
    assert len(got) > 0

    # independent check: the scalar k-mer kernel per page, summed per
    # (1-hour window, host) in pandas
    import pandas as pd

    from fasta_windows_spark import kernels as K

    pdf = pages_pdf.assign(
        w_start=pages_pdf["warc_ts"].dt.floor("1h"),
        host=pages_pdf["url"].str.split("/").str[2],
    )
    recs = []
    for (w_start, host), grp in pdf.groupby(["w_start", "host"]):
        vec = sum(K.kmer_vector(t or "", 2) for t in grp["text"])
        recs += [(w_start, host, 2, i, int(c)) for i, c in enumerate(vec) if c]
    expected = pd.DataFrame(recs, columns=["w_start", "host", "k", "idx", "cnt"])
    g = got.set_index(["w_start", "host", "k", "idx"]).sort_index()
    e = expected.set_index(["w_start", "host", "k", "idx"]).sort_index()
    j = g.join(e, how="left", rsuffix="_b")
    assert j["cnt_b"].notna().all()
    assert (j["cnt"] == j["cnt_b"]).all()
    # every (window, host) group the stream emitted is complete: no
    # nonzero k-mer of the expected side is missing from it
    emitted = set(zip(got["w_start"], got["host"]))
    want = expected[[wh in emitted for wh in zip(expected["w_start"], expected["host"])]]
    assert len(want) == len(got)


def test_rocksdb_state_store_in_use(spark, pages_dir, tmp_path):
    assert (
        "RocksDB"
        in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    )


def test_applyinpandas_with_state_host_agg(spark, pages_dir, pages_pdf, tmp_path):
    """Custom arbitrary-state operator (applyInPandasWithState): per-host
    incremental count vectors emitted on event-time timeout == batch
    recomputation on the same input."""
    from fasta_windows_spark.streaming.stateful import host_state_agg

    # one file per micro-batch so the watermark advances between batches and
    # event-time timeouts actually fire mid-stream
    stream = S.read_pages_stream(spark, pages_dir, max_files_per_trigger=1)
    agg = host_state_agg(stream, watermark="1 minute")
    out = str(tmp_path / "state_out")
    q = S.write_exactly_once(agg, out, str(tmp_path / "state_ck"))
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas()
    got = got[got["host"].notna()]
    assert len(got) > 0
    # internal consistency of every emitted state
    assert (
        got[["cnt_a", "cnt_c", "cnt_g", "cnt_t", "cnt_n"]].sum(axis=1)
        <= got["total_chars"]
    ).all()

    batch = S.with_host(P.spark_pages(spark, pages_pdf))
    exp = (
        batch.groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .toPandas()
        .set_index("host")
        .sort_index()
    )
    # emissions are per quiet-period (state removed on timeout, re-created on
    # later pages): per-host sums must never exceed the batch totals, and
    # grand totals must stay <= input size
    sums = got.groupby("host")[["n_pages", "total_chars"]].sum()
    j = sums.join(exp, how="left", rsuffix="_b")
    assert (j["n_pages"] <= j["n_pages_b"]).all()
    assert (j["total_chars"] <= j["total_chars_b"]).all()
    assert sums["n_pages"].sum() <= len(pages_pdf)


def test_streaming_dedup_urls(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate urls within the horizon are
    emitted once; state evicts past the watermark (bounded state)."""
    import pandas as pd

    d = str(tmp_path / "dups")
    os.makedirs(d)
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "url": ["https://a.example/x", "https://a.example/x",
                    "https://b.example/y", "https://a.example/x"],
            "warc_ts": [base, base + pd.Timedelta("1 minute"),
                        base + pd.Timedelta("2 minutes"),
                        base + pd.Timedelta("3 minutes")],
            "html": [b""] * 4,
            "text": ["AAAA", "AAAA", "CCCC", "AAAA"],
            "lang": ["en"] * 4,
        }
    )
    pdf.to_parquet(os.path.join(d, "p0.parquet"), index=False,
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    stream = S.read_pages_stream(spark, d)
    dedup = S.dedup_urls_stream(stream, watermark="10 minutes")
    out = str(tmp_path / "dedup_out")
    q = S.write_exactly_once(dedup, out, str(tmp_path / "dedup_ck"))
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    # all four rows arrive in one micro-batch inside the horizon: each url once
    assert sorted(got["url"].tolist()) == [
        "https://a.example/x", "https://b.example/y"
    ]


def test_stream_sliding_window_agg_matches_batch(spark, pages_dir, pages_pdf, tmp_path):
    """Streaming SLIDING-window agg (1h window / 15m slide — the -w/-s
    analog in event time) == identical batch computation: every emitted
    (window, host) row matches the batch result exactly, and hosts appear
    in multiple overlapping windows."""
    stream = S.read_pages_stream(spark, pages_dir)
    agg = S.host_window_stats(
        stream, window="1 hour", slide="15 minutes", watermark="10 minutes"
    )
    out = str(tmp_path / "out")
    q = S.write_exactly_once(agg, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    batch = P.spark_pages(spark, pages_pdf)
    expected = S.host_window_stats(
        batch, window="1 hour", slide="15 minutes", watermark="10 minutes"
    )
    g = got.toPandas().set_index(["w_start", "host"]).sort_index()
    e = expected.toPandas().set_index(["w_start", "host"]).sort_index()
    assert len(g) > 0
    # overlap: at least one host must appear in >= 2 sliding windows
    assert g.reset_index().groupby("host")["w_start"].nunique().max() >= 2
    joined = g.join(e, how="left", rsuffix="_b")
    for c in ("n_pages", "total_chars", "cnt_a", "entropy6_merged", "gc_prop"):
        pd_col = joined[c].astype(float)
        pd_b = joined[f"{c}_b"].astype(float)
        assert ((pd_col == pd_b) | (pd_col.isna() & pd_b.isna())).all(), c


def test_stream_static_broadcast_join(spark, pages_dir, pages_pdf, tmp_path):
    """Stream-static join: the pages stream enriched with a small static
    host-dimension table (broadcast per micro-batch, no stream state), then
    aggregated — the standard dimension-enrichment shape. Verified against
    the identical batch computation."""
    import pandas as pd
    import pyspark.sql.functions as F

    hosts = sorted({u.split("/")[2] for u in pages_pdf["url"]})
    dim = spark.createDataFrame(
        pd.DataFrame(
            {"host": hosts, "tier": ["hot" if i < 2 else "cold" for i in range(len(hosts))]}
        )
    )

    def enrich(df):
        return (
            S.with_host(df)
            .join(F.broadcast(dim), "host", "left")
            .groupBy("tier")
            .agg(
                F.count("*").alias("n_pages"),
                F.sum(F.length("text")).alias("total_chars"),
            )
        )

    stream = S.read_pages_stream(spark, pages_dir)
    out = str(tmp_path / "out")
    q = (
        enrich(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("tiered")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("tiered").toPandas().set_index("tier").sort_index()
    )
    expected = (
        enrich(P.spark_pages(spark, pages_pdf))
        .toPandas()
        .set_index("tier")
        .sort_index()
    )
    assert len(got) > 0
    assert (got["n_pages"] == expected["n_pages"]).all()
    assert (got["total_chars"] == expected["total_chars"]).all()


def test_salted_host_agg_equals_unsalted_and_spreads_state(spark, tmp_path):
    """Hot-host skew (north_rule): the salted two-stage streaming agg must
    (a) emit rows identical to the unsalted aggregation, and (b) spread the
    hot host's state across multiple salt keys so no single state-store key
    (or merge task) absorbs the whole host's traffic."""
    # 1 of 8 hosts carries ~93% of pages (100x weight)
    pdf = P.gen_pages(n_pages=800, n_hosts=8, n_hot_hosts=1, seed=11)
    d = str(tmp_path / "hot_src")
    P.write_pages_parquet(pdf, d, n_files=4)

    salted = S.host_window_stats_salted(
        S.read_pages_stream(spark, d), salt_buckets=8
    )
    out = str(tmp_path / "salted_out")
    q = S.write_exactly_once(salted, out, str(tmp_path / "ck_salted"))
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    assert got.count() > 0

    expected = S.host_window_stats(P.spark_pages(spark, pdf))
    g = got.toPandas().set_index(["w_start", "host"]).sort_index()
    e = expected.toPandas().set_index(["w_start", "host"]).sort_index()
    joined = g.join(e, how="left", rsuffix="_b")
    for c in ("n_pages", "total_chars", "cnt_a", "cnt_g", "entropy6_merged", "gc_prop"):
        col = joined[c].astype(float)
        col_b = joined[f"{c}_b"].astype(float)
        assert ((col == col_b) | (col.isna() & col_b.isna())).all(), c

    # stage-1 partials: the hottest (window, host) must be split across
    # several salt keys, none holding a majority of its pages
    parts_out = str(tmp_path / "partials_out")
    qp = S.write_exactly_once(
        S.salted_host_window_partials(S.read_pages_stream(spark, d), salt_buckets=8),
        parts_out,
        str(tmp_path / "ck_partials"),
    )
    qp.awaitTermination(180)
    parts = spark.read.parquet(parts_out).toPandas()
    parts["w_start"] = parts["w"].map(lambda w: w["start"])
    hot = (
        parts.groupby(["w_start", "host"])["n_pages"].sum().sort_values().index[-1]
    )
    hot_rows = parts[(parts["w_start"] == hot[0]) & (parts["host"] == hot[1])]
    total = hot_rows["n_pages"].sum()
    assert total >= 20, "fixture should produce a genuinely hot window"
    assert hot_rows["salt"].nunique() >= 4
    assert hot_rows["n_pages"].max() <= 0.5 * total


def test_cep_burst_purchase_stream_matches_batch(spark, tmp_path):
    """Streaming CEP (error{3} -> first purchase within 24 h, watermark-
    ordered state) must emit EXACTLY the batch pattern matches whose
    purchase the final watermark finalized — same rows, no extras, no
    duplicates."""
    import pandas as pd

    from fasta_windows_spark import contract
    from fasta_windows_spark.streaming.cep import burst_purchase_stream

    sf_dir = "/root/testdata/sf0.01"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    src = str(tmp_path / "events_stream")
    os.makedirs(src)
    import numpy as np

    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "cep_out")
    q = S.write_exactly_once(
        burst_purchase_stream(stream, k=3, horizon="24 hours", watermark="1 hour"),
        out,
        str(tmp_path / "cep_ck"),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas().dropna()
    got_set = {tuple(int(v) for v in r) for r in got.to_numpy()}
    assert len(got_set) == len(got), "duplicate emissions"

    batch = contract.queries()["events_error_burst_then_purchase"](
        spark, sf_dir
    ).toPandas()
    wm_final_us = int(ev["ts"].max().value // 1_000) - 3_600 * 1_000_000
    exp = batch[batch["purchase_us"] <= wm_final_us]
    exp_set = {tuple(int(v) for v in r) for r in exp.to_numpy()}
    assert len(exp_set) > 0, "fixture produced no finalized matches"
    assert got_set == exp_set


def test_foreachbatch_topn_matches_batch(spark, pages_dir, pages_pdf, tmp_path):
    """foreachBatch post-aggregation ranking: top-3 hosts per finalized
    window must equal the batch computation on the same windows — valid
    because a window's rows all finalize in one micro-batch."""
    agg = S.host_window_stats(S.read_pages_stream(spark, pages_dir))
    out = str(tmp_path / "topn_out")
    q = S.write_topn_hosts_per_window(
        agg, out, str(tmp_path / "topn_ck"), n=3
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas()
    assert len(got) > 0
    assert (got.groupby("w_start")["host"].count() <= 3).all()

    import pandas as pd
    from pyspark.sql import Window as PW

    batch = S.host_window_stats(P.spark_pages(spark, pages_pdf))
    w = PW.partitionBy("w_start").orderBy(
        F.desc("total_chars"), F.asc("host")
    )
    exp = (
        batch.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("w_start", "host", "total_chars", "rank")
        .toPandas()
    )
    exp = exp[exp["w_start"].isin(set(got["w_start"]))]  # emitted windows only
    g = got[["w_start", "host", "total_chars", "rank"]].sort_values(
        ["w_start", "rank"]
    ).reset_index(drop=True)
    e = exp.sort_values(["w_start", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, e, check_dtype=False)


def test_cep_checkpoint_resume_no_duplicates(spark, tmp_path):
    """The CEP operator claims deterministic emission under micro-batch
    replay: kill after the first progress, resume from the same
    checkpoint, and the final output must equal a single uninterrupted
    run — no duplicate or missing pattern matches."""
    import numpy as np
    import pandas as pd

    from fasta_windows_spark.streaming.cep import burst_purchase_stream

    ev = pd.read_parquet("/root/testdata/sf0.01/events.parquet").sort_values("ts")
    src = str(tmp_path / "events_stream")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    schema = spark.read.parquet(src).schema

    def stream(max_files=None):
        r = spark.readStream.schema(schema)
        if max_files:
            r = r.option("maxFilesPerTrigger", max_files)
        return burst_purchase_stream(r.parquet(src), k=3, horizon="24 hours",
                                     watermark="1 hour")

    # single uninterrupted run
    out1, ck1 = str(tmp_path / "single"), str(tmp_path / "ck_single")
    S.write_exactly_once(stream(), out1, ck1).awaitTermination(180)
    single = spark.read.parquet(out1).dropna().toPandas()

    # run 1: one file per trigger, kill after the first progress
    out2, ck2 = str(tmp_path / "resumed"), str(tmp_path / "ck_resumed")
    q1 = (
        stream(max_files=1).writeStream.format("parquet")
        .outputMode("append").option("path", out2)
        .option("checkpointLocation", ck2).start()
    )
    while not q1.recentProgress:
        pass
    q1.stop()
    q1.awaitTermination(60)
    # run 2: same checkpoint, drain the rest
    S.write_exactly_once(stream(), out2, ck2).awaitTermination(180)
    resumed = spark.read.parquet(out2).dropna().toPandas()

    key = ["user_id", "burst_us", "purchase_us"]
    s = {tuple(int(v) for v in r) for r in single[key].to_numpy()}
    r = {tuple(int(v) for v in r) for r in resumed[key].to_numpy()}
    assert len(resumed) == len(r), "duplicate CEP emissions after resume"
    assert r == s, "resumed output differs from single-run output"
    assert len(s) > 0


def test_blocklist_stream_static_join_matches_batch(spark, pages_dir, pages_pdf, tmp_path):
    """Stream-static broadcast anti-join (host blocklist): the streamed
    result must equal the same anti-join run in batch, drop every listed
    host, and keep every unlisted page (and the allowlist/semi variant must
    be its exact complement)."""
    batch = P.spark_pages(spark, pages_pdf)
    hosts = sorted(
        r["host"] for r in S.with_host(batch).select("host").distinct().collect()
    )
    blocked = spark.createDataFrame([(h,) for h in hosts[:3]], ["host"])

    stream = S.read_pages_stream(spark, pages_dir)
    out = str(tmp_path / "blk_out")
    ckpt = str(tmp_path / "blk_ckpt")
    q = S.write_exactly_once(
        S.filter_blocklist_stream(stream, blocked).select("url", "host"), out, ckpt
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    kept_urls = {r["url"] for r in got.collect()}
    got_hosts = {r["host"] for r in got.select("host").distinct().collect()}
    assert got_hosts.isdisjoint(set(hosts[:3]))

    batch_kept = S.filter_blocklist_stream(batch, blocked)
    assert kept_urls == {r["url"] for r in batch_kept.select("url").collect()}

    allow = {
        r["url"]
        for r in S.filter_blocklist_stream(batch, blocked, anti=False)
        .select("url")
        .collect()
    }
    all_urls = {r["url"] for r in batch.select("url").collect()}
    assert kept_urls | allow == all_urls and kept_urls.isdisjoint(allow)
    assert len(kept_urls) > 0 and len(allow) > 0


def test_clean_pages_stream_matches_batch(spark, tmp_path):
    """Full streaming curation pass (blocklist -> URL dedup -> line filter
    -> Gopher gate -> PII scrub) == the SAME composition run in batch
    mode, on a corpus with duplicate urls, short pages, a blocked host,
    boilerplate lines, and injected emails."""
    pdf = P.gen_pages(n_pages=300, n_hosts=6, seed=7)
    texts = []
    for i in range(len(pdf)):
        words = "the quick brown fox %d " % i * (i % 40)
        if i % 5 == 0:
            words += "contact a%d@b.com" % i
        # boilerplate lines the line filter must drop: a cookie banner
        # (blocklisted token) and a too-short nav line
        if i % 3 == 0:
            words += "\nthis site uses a cookie banner ok"
        if i % 4 == 0:
            words += "\nclick here now"
        texts.append(words.strip())
    pdf = pdf.assign(text=texts)
    pdf = __import__("pandas").concat([pdf, pdf.iloc[:100]], ignore_index=True)

    d = str(tmp_path / "clean_src")
    P.write_pages_parquet(pdf, d, n_files=4)
    batch = spark.read.parquet(d)
    hosts = sorted(r["host"] for r in S.with_host(batch).select("host").distinct().collect())
    blocked = spark.createDataFrame([(hosts[0],)], ["host"])

    out, ckpt = str(tmp_path / "clean_out"), str(tmp_path / "clean_ck")
    q = S.write_exactly_once(
        S.clean_pages_stream(
            S.read_pages_stream(spark, d), blocked,
            line_min_words=4, line_blocklist=("cookie",),
        ).select("url", "host", "text", "n_emails"),
        out,
        ckpt,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()

    want = {
        (r["url"], r["text"], r["n_emails"])
        for r in S.clean_pages_stream(
            batch, blocked, line_min_words=4, line_blocklist=("cookie",)
        )
        .select("url", "text", "n_emails")
        .collect()
    }
    assert {(r["url"], r["text"], r["n_emails"]) for r in got} == want
    assert len(got) == len({r["url"] for r in got}), "duplicate urls survived"
    assert hosts[0] not in {r["host"] for r in got}, "blocked host survived"
    joined = " ".join(r["text"] for r in got)
    assert "@b.com" not in joined and "<EMAIL>" in joined
    assert "cookie" not in joined, "blocklisted boilerplate line survived"
    assert "click here now" not in joined, "short nav line survived"
    # the word-count gate actually dropped something and kept something
    assert 0 < len(got) < len({r["url"] for r in batch.select("url").collect()})


def test_streaming_distinct_urls_equals_batch(spark, pages_dir, pages_pdf, tmp_path):
    """HLL++ register merge is commutative max, so the streamed
    approx-distinct per (window, host) must EQUAL the batch estimate on
    the same input — and both must sit near the exact distinct count."""
    out, ckpt = str(tmp_path / "du_out"), str(tmp_path / "du_ck")
    q = S.write_exactly_once(
        S.host_window_distinct_urls(S.read_pages_stream(spark, pages_dir)), out, ckpt
    )
    q.awaitTermination(120)
    got = {
        (r["w_start"], r["host"]): (r["n_urls_approx"], r["n_pages"])
        for r in spark.read.parquet(out).collect()
    }
    assert got

    batch = P.spark_pages(spark, pages_pdf)
    want = {
        (r["w_start"], r["host"]): (r["n_urls_approx"], r["n_pages"])
        for r in S.host_window_distinct_urls(batch).collect()
    }
    for k, v in got.items():  # every emitted window matches batch exactly
        assert want[k] == v, (k, v, want[k])

    exact = {
        (r["w_start"], r["host"]): r["n"]
        for r in S.with_host(batch)
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"), "host")
        .agg(F.countDistinct("url").alias("n"))
        .select(F.col("w.start").alias("w_start"), "host", "n")
        .collect()
    }
    for k, (approx, _) in got.items():
        assert abs(approx - exact[k]) <= max(2, 0.15 * exact[k]), (k, approx, exact[k])


def test_deterministic_sampling_composes_with_streams(spark, pages_dir, tmp_path):
    """stratified_sample is a stateless md5-bucket filter, so it runs
    unchanged inside a streaming plan — and because membership is a pure
    function of the key, the streamed sample EQUALS the batch sample on
    the same input (rand()-based sampling could never promise this)."""
    from fasta_windows_spark.operators.sampling import stratified_sample

    rates = {"en": 0.5, "de": 0.25}
    out, ck = str(tmp_path / "smp_out"), str(tmp_path / "smp_ck")
    q = S.write_exactly_once(
        stratified_sample(
            S.read_pages_stream(spark, pages_dir),
            rates, stratum_col="lang", key_col="url",
        ).select("url"),
        out, ck,
    )
    q.awaitTermination(120)
    got = {r["url"] for r in spark.read.parquet(out).collect()}
    batch = spark.read.parquet(pages_dir)
    want = {
        r["url"]
        for r in stratified_sample(
            batch, rates, stratum_col="lang", key_col="url"
        ).select("url").collect()
    }
    assert got == want
    assert 0 < len(got) < batch.count()


def test_cep_funnel_stream_matches_batch(spark, tmp_path):
    """Streaming eventual-funnel CEP (view -> click -> purchase within
    24 h of entry) must emit EXACTLY the batch funnel rows whose purchase
    the final watermark finalized — same rows, no extras, no duplicates."""
    import numpy as np
    import pandas as pd

    from fasta_windows_spark import contract
    from fasta_windows_spark.streaming.cep import funnel_stream

    sf_dir = "/root/testdata/sf0.01"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    src = str(tmp_path / "funnel_stream_src")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "funnel_out")
    q = S.write_exactly_once(
        funnel_stream(stream, horizon="24 hours", watermark="1 hour"),
        out,
        str(tmp_path / "funnel_ck"),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas().dropna()
    got_set = {tuple(int(v) for v in r) for r in got.to_numpy()}
    assert len(got_set) == len(got), "duplicate emissions"

    batch = contract.queries()["events_funnel_conversion"](spark, sf_dir).toPandas()
    wm_final_us = int(ev["ts"].max().value // 1_000) - 3_600 * 1_000_000
    exp = batch[batch["purchase_us"] <= wm_final_us]
    exp_set = {tuple(int(v) for v in r) for r in exp.to_numpy()}
    assert len(exp_set) > 0, "fixture produced no finalized conversions"
    assert got_set == exp_set


def test_cep_funnel_stream_arbitrary_steps(spark, tmp_path):
    """The funnel stream is step-count generic: a 4-step signup -> view ->
    click -> purchase funnel (72 h horizon) must equal the batch
    funnel_first_chain operator run with the same step list — the operator
    is an engine feature, not a hardwired 3-step pattern."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F

    from fasta_windows_spark.operators import sequence as _seq
    from fasta_windows_spark.streaming.cep import funnel_stream

    sf_dir = "/root/testdata/sf0.01"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    src = str(tmp_path / "funnel4_src")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 6)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    steps = ("signup", "view", "click", "purchase")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "funnel4_out")
    q = S.write_exactly_once(
        funnel_stream(stream, steps=steps, horizon="72 hours", watermark="1 hour"),
        out,
        str(tmp_path / "funnel4_ck"),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas().dropna()
    assert list(got.columns) == ["user_id"] + [f"{s}_us" for s in steps]
    got_set = {tuple(int(v) for v in r) for r in got.to_numpy()}
    assert len(got_set) == len(got), "duplicate emissions"

    et = F.col("event_type")
    batch = _seq.funnel_first_chain(
        spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ),
        key="user_id",
        ts="ts",
        steps=[(s, et == s) for s in steps],
        within="72 hours",
    ).select(
        "user_id",
        *[F.unix_micros(F.col(f"t_{s}")).alias(f"{s}_us") for s in steps],
    ).toPandas()
    wm_final_us = int(ev["ts"].max().value // 1_000) - 3_600 * 1_000_000
    exp = batch[batch["purchase_us"] <= wm_final_us]
    exp_set = {tuple(int(v) for v in r) for r in exp.to_numpy()}
    assert len(exp_set) > 0, "fixture produced no finalized 4-step conversions"
    assert got_set == exp_set


def test_cep_funnel_checkpoint_resume_no_duplicates(spark, tmp_path):
    """Funnel-stream exactly-once under kill/restart: interrupt after the
    first progress, resume from the same checkpoint, and the output must
    equal one uninterrupted run — the closed-user tombstone must survive
    replay without re-emitting or losing conversions."""
    import numpy as np
    import pandas as pd

    from fasta_windows_spark.streaming.cep import funnel_stream

    ev = pd.read_parquet("/root/testdata/sf0.01/events.parquet").sort_values("ts")
    src = str(tmp_path / "funnel_events_stream")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    schema = spark.read.parquet(src).schema

    def stream(max_files=None):
        r = spark.readStream.schema(schema)
        if max_files:
            r = r.option("maxFilesPerTrigger", max_files)
        return funnel_stream(r.parquet(src), horizon="24 hours",
                             watermark="1 hour")

    out1, ck1 = str(tmp_path / "fsingle"), str(tmp_path / "fck_single")
    S.write_exactly_once(stream(), out1, ck1).awaitTermination(180)
    single = spark.read.parquet(out1).dropna().toPandas()

    out2, ck2 = str(tmp_path / "fresumed"), str(tmp_path / "fck_resumed")
    q1 = (
        stream(max_files=1).writeStream.format("parquet")
        .outputMode("append").option("path", out2)
        .option("checkpointLocation", ck2).start()
    )
    while not q1.recentProgress:
        pass
    q1.stop()
    q1.awaitTermination(60)
    S.write_exactly_once(stream(), out2, ck2).awaitTermination(180)
    resumed = spark.read.parquet(out2).dropna().toPandas()

    key = ["user_id", "view_us", "click_us", "purchase_us"]
    s = {tuple(int(v) for v in r) for r in single[key].to_numpy()}
    r = {tuple(int(v) for v in r) for r in resumed[key].to_numpy()}
    assert len(resumed) == len(r), "duplicate funnel emissions after resume"
    assert r == s, "resumed funnel output differs from single-run output"
    assert len(s) > 0


def test_cep_absence_stream_matches_batch(spark, tmp_path):
    """Streaming absence CEP (click with no purchase within 1 h) must emit
    EXACTLY the batch abandoned clicks whose cancel window the final
    watermark fully finalized — no extras, no duplicates."""
    import numpy as np
    import pandas as pd

    from fasta_windows_spark import contract
    from fasta_windows_spark.streaming.cep import absence_stream

    sf_dir = "/root/testdata/sf0.01"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    src = str(tmp_path / "absence_stream_src")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "absence_out")
    q = S.write_exactly_once(
        absence_stream(stream, horizon="1 hour", watermark="1 hour"),
        out,
        str(tmp_path / "absence_ck"),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas().dropna()
    got_set = {tuple(int(v) for v in r) for r in got.to_numpy()}
    assert len(got_set) == len(got), "duplicate emissions"

    batch = contract.queries()["events_abandoned_clicks"](spark, sf_dir).toPandas()
    wm_final_us = int(ev["ts"].max().value // 1_000) - 3_600 * 1_000_000
    horizon_us = 3_600 * 1_000_000
    exp = batch[batch["ts_us"] + horizon_us <= wm_final_us]
    exp_set = {tuple(int(v) for v in r) for r in exp.to_numpy()}
    assert len(exp_set) > 0, "fixture produced no finalized abandoned clicks"
    assert got_set == exp_set


def test_foreachbatch_replay_is_idempotent(spark, pages_dir, tmp_path):
    """foreachBatch writes live OUTSIDE the streaming commit log, so a
    crash between the sink write and the checkpoint commit REPLAYS the
    batch. Simulate exactly that (delete the newest commit marker,
    restart): the batch_id-keyed overwrite must make the replay a no-op —
    final output identical to the uninterrupted run, no duplicates."""
    out = str(tmp_path / "topn_replay_out")
    ck = str(tmp_path / "topn_replay_ck")

    def run():
        agg = S.host_window_stats(
            S.read_pages_stream(spark, pages_dir, max_files_per_trigger=2)
        )
        q = S.write_topn_hosts_per_window(agg, out, ck, n=3)
        assert q.awaitTermination(180), "query did not finish availableNow"
        q.stop()
        q.awaitTermination()

    run()
    cols = ["w_start", "host", "total_chars", "rank"]
    single = spark.read.parquet(out).toPandas()
    s_rows = sorted(map(tuple, single[cols].astype(str).to_numpy()))
    assert len(s_rows) > 0

    commits = [
        c for c in os.listdir(f"{ck}/commits") if not c.startswith(".")
    ]
    assert len(commits) >= 2, "need multiple micro-batches to test replay"
    last = max(int(c) for c in commits)
    os.remove(f"{ck}/commits/{last}")
    crc = f"{ck}/commits/.{last}.crc"  # stale checksum shadow breaks rewrite
    if os.path.exists(crc):
        os.remove(crc)
    last_dir = f"{out}/batch_id={last}"
    mtime_before = os.path.getmtime(f"{last_dir}/_SUCCESS")

    run()  # restart: Spark replays batch `last` through foreachBatch
    assert os.path.getmtime(f"{last_dir}/_SUCCESS") > mtime_before, (
        "replay did not actually re-execute the foreachBatch write"
    )
    replayed = spark.read.parquet(out).toPandas()
    r_rows = sorted(map(tuple, replayed[cols].astype(str).to_numpy()))
    assert r_rows == s_rows, "replayed batch duplicated or altered output"


def test_cep_absence_checkpoint_resume_no_duplicates(spark, tmp_path):
    """Absence-stream exactly-once under kill/restart (completes the CEP
    resume matrix: burst, funnel, absence)."""
    import numpy as np
    import pandas as pd

    from fasta_windows_spark.streaming.cep import absence_stream

    ev = pd.read_parquet("/root/testdata/sf0.01/events.parquet").sort_values("ts")
    src = str(tmp_path / "absence_events_stream")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    schema = spark.read.parquet(src).schema

    def stream(max_files=None):
        r = spark.readStream.schema(schema)
        if max_files:
            r = r.option("maxFilesPerTrigger", max_files)
        return absence_stream(r.parquet(src), horizon="1 hour",
                              watermark="1 hour")

    out1, ck1 = str(tmp_path / "asingle"), str(tmp_path / "ack_single")
    S.write_exactly_once(stream(), out1, ck1).awaitTermination(180)
    single = spark.read.parquet(out1).dropna().toPandas()

    out2, ck2 = str(tmp_path / "aresumed"), str(tmp_path / "ack_resumed")
    q1 = (
        stream(max_files=1).writeStream.format("parquet")
        .outputMode("append").option("path", out2)
        .option("checkpointLocation", ck2).start()
    )
    while not q1.recentProgress:
        pass
    q1.stop()
    q1.awaitTermination(60)
    S.write_exactly_once(stream(), out2, ck2).awaitTermination(180)
    resumed = spark.read.parquet(out2).dropna().toPandas()

    key = ["user_id", "ts_us"]
    s = {tuple(int(v) for v in r) for r in single[key].to_numpy()}
    r = {tuple(int(v) for v in r) for r in resumed[key].to_numpy()}
    assert len(resumed) == len(r), "duplicate absence emissions after resume"
    assert r == s, "resumed absence output differs from single-run output"
    assert len(s) > 0


def test_window_stats_counts_utf8_bytes(spark):
    """The unit of length, pinned end to end: window_stats windows text by
    UTF-8 BYTES (the reference's u8 contract, seq_statsu8.rs), not by
    characters. Multi-byte text makes the two differ: 360 characters
    here are 420 bytes, so W=100 gives 5 windows, not 4."""
    from fasta_windows_spark import kernels as K
    from fasta_windows_spark.functions.udfs import window_stats

    text = "héllo wörld " * 30
    df = spark.createDataFrame([("u1", text)], "url STRING, text STRING")
    got = (
        window_stats(df, window=100, id_cols=["url"], with_vectors=True)
        .orderBy("w_start")
        .collect()
    )
    assert [r.win_len for r in got] == [100, 100, 100, 100, 20]
    want = K.page_window_stats(text, 100)
    assert [(r.w_start, r.w_end) for r in got] == [(w["start"], w["end"]) for w in want]
    for r, w in zip(got, want):
        assert r.win_len == w["len"]
        assert [r.cnt_a, r.cnt_c, r.cnt_g, r.cnt_t, r.cnt_n] == list(w["mono"])
        assert list(r.k2_vec) == list(w["di_freq"])
        assert list(r.k4_vec) == list(w["tetra_freq"])
        for c in ("gc_prop", "prop_masked", "shannon_entropy", "dinuc_shannon", "kt0"):
            assert getattr(r, c) == pytest.approx(w[c], abs=1e-9), c


def test_scd2_stream_matches_batch_closed_intervals(spark, tmp_path):
    """Streaming SCD-2 must emit EXACTLY the batch operator's closed
    intervals whose closing event the final watermark finalized — same
    rows, no extras, no duplicates (the CEP stream==batch protocol)."""
    import numpy as np
    import pandas as pd

    from fasta_windows_spark import contract
    from fasta_windows_spark.streaming.cep import scd2_stream

    sf_dir = "/root/testdata/sf0.01"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    src = str(tmp_path / "scd2_stream_src")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "scd2_out")
    q = S.write_exactly_once(
        scd2_stream(stream, watermark="1 hour"), out, str(tmp_path / "scd2_ck")
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas()
    got_set = {tuple(r) for r in got.to_numpy()}
    assert len(got_set) == len(got), "duplicate emissions"

    batch = contract.queries()["events_state_history_scd2"](spark, sf_dir).toPandas()
    wm_final_us = int(ev["ts"].max().value // 1_000) - 3_600 * 1_000_000
    exp = batch[batch["to_us"].notna() & (batch["to_us"] <= wm_final_us)]
    exp_set = {
        tuple(r)
        for r in exp[
            ["user_id", "version", "state", "from_us", "to_us", "n_events"]
        ].to_numpy()
    }
    assert len(exp_set) > 0, "fixture produced no finalized closed intervals"
    assert got_set == exp_set


def test_scd2_stream_checkpoint_resume(spark, tmp_path):
    """Kill the SCD-2 stream after its first progress and resume from the
    same checkpoint: final interval set equals an uninterrupted run — no
    duplicate or missing intervals (exactly-once under replay)."""
    import numpy as np
    import pandas as pd

    from fasta_windows_spark.streaming.cep import scd2_stream

    ev = pd.read_parquet("/root/testdata/sf0.01/events.parquet").sort_values("ts")
    src = str(tmp_path / "scd2_src")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    schema = spark.read.parquet(src).schema

    def stream(max_files=None):
        r = spark.readStream.schema(schema)
        if max_files:
            r = r.option("maxFilesPerTrigger", max_files)
        return scd2_stream(r.parquet(src), watermark="1 hour")

    out1, ck1 = str(tmp_path / "single"), str(tmp_path / "ck_single")
    S.write_exactly_once(stream(), out1, ck1).awaitTermination(180)
    single = spark.read.parquet(out1).toPandas()

    out2, ck2 = str(tmp_path / "resumed"), str(tmp_path / "ck_resumed")
    q1 = (
        stream(max_files=1).writeStream.format("parquet")
        .outputMode("append").option("path", out2)
        .option("checkpointLocation", ck2).start()
    )
    while not q1.recentProgress:
        pass
    q1.stop()
    q1.awaitTermination(60)
    S.write_exactly_once(stream(), out2, ck2).awaitTermination(180)
    resumed = spark.read.parquet(out2).toPandas()

    s = {tuple(r) for r in single.to_numpy()}
    r = {tuple(r) for r in resumed.to_numpy()}
    assert len(resumed) == len(r), "duplicate SCD-2 emissions after resume"
    assert r == s, "resumed output differs from single-run output"


def test_sink_snapshot_time_travel(spark, tmp_path):
    """read_sink_snapshot(up_to_batch=N) must return exactly the rows the
    first N+1 commits made visible: snapshots grow monotonically, the
    latest equals the full read, earlier snapshots exclude later batches,
    and an orphan parquet file (a failed attempt never committed to the
    manifest) is invisible at every snapshot. Compaction of the sink log
    is exercised (compactInterval=3) so the .compact resolution path runs."""
    import shutil

    import pandas as pd

    from fasta_windows_spark.sources import pages as P

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = P.gen_pages(n_pages=240, n_hosts=6, seed=7)
    P.write_pages_parquet(pdf, src, n_files=6)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    old = spark.conf.get("spark.sql.streaming.fileSink.log.compactInterval", None)
    spark.conf.set("spark.sql.streaming.fileSink.log.compactInterval", "3")
    try:
        agg = S.host_window_stats(
            S.read_pages_stream(spark, src, max_files_per_trigger=1)
        )
        q = S.write_exactly_once(agg, out, ck)
        q.awaitTermination(120)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.fileSink.log.compactInterval")
        else:
            spark.conf.set("spark.sql.streaming.fileSink.log.compactInterval", old)

    batches = S.sink_batches(out)
    assert len(batches) >= 4, batches  # compaction boundary crossed

    full = spark.read.parquet(out).count()
    counts = [S.read_sink_snapshot(spark, out, b).count() for b in batches]
    assert counts == sorted(counts), counts
    assert counts[-1] == full > 0
    assert counts[0] < counts[-1]
    assert S.read_sink_snapshot(spark, out).count() == full

    # plant an orphan data file (a failed attempt never committed to the
    # manifest): pick a committed file that actually has rows, copy it in,
    # and require every snapshot count unchanged — the manifest IS the table
    committed = S._manifest_files(out, batches[-1])
    orphan_src = max(
        (p.replace("file:", "") for p in committed), key=os.path.getsize
    )
    orphan_rows = spark.read.parquet(orphan_src).count()
    assert orphan_rows > 0
    shutil.copy(orphan_src, os.path.join(out, "part-99999-orphan.parquet"))
    assert [
        S.read_sink_snapshot(spark, out, b).count() for b in batches
    ] == counts


def test_sink_snapshot_refuses_unknown_batch(spark, tmp_path):
    """Requesting a snapshot at a batch with no manifest (e.g. aged out of
    the log retention window) must raise, never silently undercount."""
    import pytest as _pytest

    from fasta_windows_spark.sources import pages as P2

    src = str(tmp_path / "src")
    os.makedirs(src)
    P2.write_pages_parquet(P2.gen_pages(n_pages=40, n_hosts=3, seed=3), src, n_files=1)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = S.write_exactly_once(
        S.host_window_stats(S.read_pages_stream(spark, src)), out, ck
    )
    q.awaitTermination(60)
    with _pytest.raises(ValueError, match="no manifest"):
        S.read_sink_snapshot(spark, out, up_to_batch=99)


def test_anomaly_stream_matches_batch_finalized_hours(spark, tmp_path):
    """Streaming anomaly flags must equal the batch query's rows for every
    hour the final watermark finalized — same counts, same trailing stats,
    same flags, no duplicates."""
    import numpy as np
    import pandas as pd

    from fasta_windows_spark import contract
    from fasta_windows_spark.streaming.cep import hourly_anomaly_stream

    sf_dir = "/root/testdata/sf0.01"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    src = str(tmp_path / "anom_src")
    os.makedirs(src)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 8)):
        ev.iloc[idx].to_parquet(
            f"{src}/part-{i:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "anom_out")
    q = S.write_exactly_once(
        hourly_anomaly_stream(stream, watermark="1 hour"),
        out, str(tmp_path / "anom_ck"),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).toPandas()
    got_set = {tuple(r) for r in got.to_numpy()}
    assert len(got_set) == len(got), "duplicate emissions"

    batch = contract.queries()["events_hourly_anomaly"](spark, sf_dir).toPandas()
    wm_final_us = int(ev["ts"].max().value // 1_000) - 3_600 * 1_000_000
    last_final_hour = wm_final_us // (3_600 * 1_000_000) - 1
    exp = batch[batch["hour_num"] <= last_final_hour]
    exp_set = {
        tuple(r)
        for r in exp[
            ["event_type", "hour_num", "cnt", "n_trail", "sum_trail", "is_anomaly"]
        ].to_numpy()
    }
    assert len(exp_set) > 0
    assert {r for r in got_set} == exp_set
    assert any(r[-1] for r in got_set), "no anomaly fired on the fixture"


# ---------------------------------------------------------------------------
# streaming near-duplicate suppression (SimHash band LSH, bounded ring state)
# ---------------------------------------------------------------------------

from fasta_windows_spark.streaming import neardup as ND


def _py_simhash(text: str) -> int:
    """Python twin of operators/dedup.simhash_sql_expr, written against the
    spec: per-token md5 (first 15 hex = 60 bits), bit j set iff more than
    half the tokens have bit j set."""
    import hashlib

    toks = text.split(" ")
    ones = [0] * 60
    for tok in toks:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for j in range(60):
            ones[j] += (h >> j) & 1
    return sum(1 << j for j in range(60) if 2 * ones[j] > len(toks))


def _py_neardup(pdf, max_hamming=3, ring_size=256):
    """Pure-pandas reference of the full band/ring pipeline for a SINGLE
    micro-batch: per bucket, rows in (warc_ts, url) order; matched iff any
    earlier in-bucket signature is within max_hamming; verdict = any band."""
    sigs = {r.url: _py_simhash(r.text) for r in pdf.itertuples() if r.text is not None}
    buckets: dict[tuple[int, int], list[int]] = {}
    matched: dict[str, bool] = {u: False for u in sigs}
    rows = sorted(
        ((r.warc_ts, r.url) for r in pdf.itertuples() if r.url in sigs),
    )
    for b in range(4):
        for _, url in rows:
            s = sigs[url]
            bv = (s >> (b * 15)) & 0x7FFF
            ring = buckets.setdefault((b, bv), [])
            if any(bin(s ^ p).count("1") <= max_hamming for p in ring):
                matched[url] = True
            if len(ring) >= ring_size:
                ring.pop(0)  # ring_size >= batch size in these tests
            ring.append(s)
    return {u: (sigs[u], matched[u]) for u in sigs}


def _neardup_pages(n=80):
    pdf = P.gen_pages(n_pages=n, n_hosts=6, seed=7)
    dups = pdf.head(8).copy()
    dups["url"] = dups["url"] + "?utm=mirror"
    dups["warc_ts"] = pdf["warc_ts"].max() + pd.to_timedelta(
        range(60, 60 + len(dups)), unit="s"
    )
    return pd.concat([pdf, dups], ignore_index=True)


import pandas as pd  # noqa: E402


def test_neardup_stream_matches_pandas_reference(spark, tmp_path):
    src = str(tmp_path / "nd_src")
    pdf = _neardup_pages()
    P.write_pages_parquet(pdf, src, n_files=1)
    stream = S.read_pages_stream(spark, src)
    ev = ND.near_dup_band_events_stream(stream)
    q = (
        ev.writeStream.format("memory")
        .queryName("nd_ev")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_events = spark.sql("SELECT * FROM nd_ev")
    got = {
        r["url"]: (r["simhash"], bool(r["is_near_dup"]), r["n_bands"])
        for r in ND.finalize_near_dup(got_events).collect()
    }
    exp = _py_neardup(pdf)
    assert set(got) == set(exp)
    for url, (sig, m) in exp.items():
        assert got[url] == (sig, m, 4), url
    # the planted exact copies MUST be flagged (hamming 0 <= 3: exact recall)
    flagged = {u for u, (_, m, _) in got.items() if m}
    assert {u for u in got if u.endswith("?utm=mirror")} <= flagged


def test_neardup_cross_batch_detection(spark, tmp_path):
    """A duplicate arriving in a LATER micro-batch must match state written
    by an earlier one (one file per trigger = one batch per file)."""
    src = str(tmp_path / "nd_src2")
    pdf = P.gen_pages(n_pages=40, n_hosts=4, seed=11)
    dup = pdf.head(3).copy()
    dup["url"] = dup["url"] + "?m=1"
    dup["warc_ts"] = pdf["warc_ts"].max() + pd.to_timedelta([60, 61, 62], unit="s")
    os.makedirs(src, exist_ok=True)
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    pdf.to_parquet(os.path.join(src, "part-000.parquet"), **kw)
    dup.to_parquet(os.path.join(src, "part-001.parquet"), **kw)

    stream = S.read_pages_stream(spark, src, max_files_per_trigger=1)
    ev = ND.near_dup_band_events_stream(stream)
    q = (
        ev.writeStream.format("memory")
        .queryName("nd_ev2")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["url"]: bool(r["is_near_dup"])
        for r in ND.finalize_near_dup(spark.sql("SELECT * FROM nd_ev2")).collect()
    }
    assert all(got[u + "?m=1"] for u in pdf.head(3)["url"])
    assert not any(got[u] for u in pdf.head(3)["url"])  # originals kept


def test_neardup_checkpoint_resume_consistent(spark, tmp_path):
    """Kill after the first micro-batch, resume from the checkpoint: the
    final verdict set equals the uninterrupted run's (state replay)."""
    src = str(tmp_path / "nd_src3")
    pdf = _neardup_pages(60)
    P.write_pages_parquet(pdf, src, n_files=4)

    def run(out_name, ck, interrupt):
        stream = S.read_pages_stream(spark, src, max_files_per_trigger=1)
        ev = ND.near_dup_band_events_stream(stream)
        if interrupt:
            q1 = (
                ev.writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_name)
                .option("checkpointLocation", ck)
                .start()
            )
            while not q1.recentProgress:
                pass
            q1.stop()
            q1.awaitTermination(60)
        q = (
            ev.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_name)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["url"], r["band"]): bool(r["matched"])
            for r in spark.read.parquet(out_name).collect()
        }

    a = run(str(tmp_path / "o1"), str(tmp_path / "c1"), interrupt=False)
    b = run(str(tmp_path / "o2"), str(tmp_path / "c2"), interrupt=True)
    assert a == b and len(a) == 68 * 4


def test_fetch_scheduler_stream_matches_file_order_replay(spark, pages_dir, tmp_path):
    """Politeness scheduler (streaming/scheduler.py): per-host slots handed
    out by the one-LONG-per-host stateful counter equal a deterministic
    replay of the files in micro-batch order, and fetch offsets respect
    slot * delay exactly."""
    import glob

    import pandas as pd

    from fasta_windows_spark.streaming import scheduler as SCH

    stream = S.with_host(S.read_pages_stream(spark, pages_dir, max_files_per_trigger=1))
    out = str(tmp_path / "sched_out")
    q = S.write_exactly_once(
        SCH.fetch_schedule_stream(stream), out, str(tmp_path / "sched_ck")
    )
    q.awaitTermination(180)
    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["host", "slot"])
        .reset_index(drop=True)
    )

    # replay: files in name order (the source's discovery order for this
    # fixture), rows within a file in url order, per-host counters
    from urllib.parse import urlparse

    counters: dict = {}
    rows = []
    for p in sorted(glob.glob(f"{pages_dir}/part-*.parquet")):
        pdf = pd.read_parquet(p)
        pdf["host"] = pdf["url"].map(lambda u: urlparse(u).hostname)
        for _, r in pdf.sort_values("url").iterrows():
            s = counters.get(r["host"], 0)
            counters[r["host"]] = s + 1
            d = SCH._delay_of(r["host"])
            rows.append((r["url"], r["host"], s, d, s * d))
    exp = (
        pd.DataFrame(rows, columns=["url", "host", "slot", "delay_s", "fetch_offset_s"])
        .sort_values(["host", "slot"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in ["url", "host", "slot", "delay_s", "fetch_offset_s"]:
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c
    # politeness invariant: per host, no two fetches share a slot and
    # offsets are delay-spaced
    per = got.groupby("host")["slot"]
    assert (per.nunique() == per.count()).all()


def test_fetch_scheduler_checkpoint_resume_no_double_booking(spark, tmp_path):
    """Kill the scheduler mid-stream, add more files, resume from the
    checkpoint: the per-host counter continues (no slot reuse, no gaps)."""
    import pandas as pd

    from fasta_windows_spark.streaming import scheduler as SCH

    d = str(tmp_path / "pages2")
    pdf = P.gen_pages(n_pages=200, n_hosts=5, seed=7)
    paths = P.write_pages_parquet(pdf.iloc[:100], d, n_files=2)
    assert paths
    out = str(tmp_path / "out2")
    ck = str(tmp_path / "ck2")

    def run_once():
        stream = S.with_host(S.read_pages_stream(spark, d, max_files_per_trigger=1))
        q = S.write_exactly_once(SCH.fetch_schedule_stream(stream), out, ck)
        q.awaitTermination(120)

    run_once()
    # second half arrives, resume from checkpoint
    import os as _os

    extra = _os.path.join(d, "part-9998.parquet")
    pdf.iloc[100:].to_parquet(extra, index=False, coerce_timestamps="us",
                              allow_truncated_timestamps=True)
    run_once()

    got = spark.read.parquet(out).toPandas()
    per = got.groupby("host")["slot"].agg(["nunique", "count", "min", "max"])
    assert (per["nunique"] == per["count"]).all()  # no double-booked slot
    assert (per["min"] == 0).all()
    assert (per["max"] == per["count"] - 1).all()  # contiguous: resumed counter
    assert len(got) == 200


def test_window_novelty_stream_matches_batch(spark, tmp_path):
    """Streaming novelty monitor == the identical batch computation on the
    same input: per-window shingle totals, novel counts, and the rate,
    probed against a static index built from half the corpus. (The shared
    pages fixture is DNA text with no spaces, so this test writes its own
    word-text pages.)"""
    pdf = P.gen_pages(n_pages=600, n_hosts=10, seed=42)
    # deterministic word salad per url: overlapping vocab so novelty is
    # genuinely partial against the half-corpus index
    pdf["text"] = [
        " ".join(f"w{(i * 7 + j * 3) % 40}" for j in range(30))
        + (f" uniq{i} mark{i} tail{i}" if i % 2 else "")
        for i in range(len(pdf))
    ]
    d = str(tmp_path / "word_pages")
    P.write_pages_parquet(pdf, d, n_files=6)

    # index = shingles of the even-numbered pages; the stream then watches
    # the WHOLE corpus, so even pages read as ~0-novel and odd pages mix
    batch = P.spark_pages(spark, pdf)
    index = S.index_shingle_table(
        batch.where(F.expr("pmod(xxhash64(url), 2) = 0"))
    ).cache()
    assert index.count() > 0

    stream = S.read_pages_stream(spark, d, max_files_per_trigger=2)
    nov = S.window_novelty_stream(
        stream, index, window="10 minutes", watermark="10 minutes"
    )
    out = str(tmp_path / "nov_out")
    ckpt = str(tmp_path / "nov_ck")
    q = S.write_exactly_once(nov, out, ckpt)
    q.awaitTermination(120)
    got = (
        spark.read.parquet(out)
        .toPandas()
        .set_index("w_start")
        .sort_index()
    )

    expected = (
        S.window_novelty_stream(
            batch, index, window="10 minutes", watermark="10 minutes"
        )
        .toPandas()
        .set_index("w_start")
        .sort_index()
    )
    assert len(got) > 0
    joined = got.join(expected, how="left", rsuffix="_b")
    for c in ("n_pages", "n_shingles", "n_novel", "novelty_frac"):
        a = joined[c].astype(float)
        b = joined[f"{c}_b"].astype(float)
        assert ((a == b) | (a.isna() & b.isna())).all(), c
    # the planted half-index makes novelty genuinely partial
    assert 0 < got["n_novel"].sum() < got["n_shingles"].sum()
    index.unpersist()


from fasta_windows_spark.streaming import semdedup as SD  # noqa: E402
from fasta_windows_spark.operators import cluster as CL  # noqa: E402
from fasta_windows_spark.operators import dedup as DD  # noqa: E402

EMB_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def _semdedup_stream_run(spark, src, centroids, name, max_files=None):
    stream = spark.readStream.schema(EMB_SCHEMA)
    if max_files is not None:
        stream = stream.option("maxFilesPerTrigger", max_files)
    ev = SD.semdedup_stream(stream.parquet(src), centroids)
    q = (
        ev.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return {
        int(r["vec_id"]): (int(r["cell"]), int(r["kept"]))
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


def test_semdedup_stream_matches_batch(spark, tmp_path):
    """A stream fed in vec_id order reproduces batch SemDeDup EXACTLY
    (same pretrained centroids, same integer cosine test): the keyed
    full-cell state makes the online keep-first rule identical to the
    batch in-cell earlier-id join."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids, _ = CL.kmeans_fit(emb, k=8, n_iter=2, with_inertia=False)
    expected = {
        int(r["vec_id"]): (int(r["cell"]), int(r["kept"]))
        for r in DD.semdedup(emb, centroids=centroids).collect()
    }
    src = str(tmp_path / "sd_src")
    os.makedirs(src, exist_ok=True)
    emb.orderBy("vec_id").coalesce(1).write.mode("overwrite").parquet(src)
    got = _semdedup_stream_run(spark, src, centroids, "sd_ev1")
    assert got == expected
    assert sum(1 for _, k in got.values() if k == 0) > 0


def test_semdedup_stream_cross_batch_state(spark, tmp_path):
    """Verdicts in a LATER micro-batch must consult state written by an
    earlier one: splitting the corpus into two files (one per trigger)
    still reproduces the batch result, and at least one second-half
    removal is caused by a first-half vector."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids, _ = CL.kmeans_fit(emb, k=8, n_iter=2, with_inertia=False)
    batch = {
        int(r["vec_id"]): (int(r["cell"]), int(r["kept"]))
        for r in DD.semdedup(emb, centroids=centroids).collect()
    }
    pdf = emb.orderBy("vec_id").toPandas()
    src = str(tmp_path / "sd_src2")
    os.makedirs(src, exist_ok=True)
    half = len(pdf) // 2
    kw = dict(index=False)
    pdf.iloc[:half].to_parquet(os.path.join(src, "part-000.parquet"), **kw)
    pdf.iloc[half:].to_parquet(os.path.join(src, "part-001.parquet"), **kw)
    got = _semdedup_stream_run(spark, src, centroids, "sd_ev2", max_files=1)
    assert got == batch
    # cross-batch evidence: some removed second-half vector whose ONLY
    # earlier matches are in the first half (re-derive via python ints)
    fvs = {
        int(r.vec_id): [int(round(float(x) * CL.SCALE)) for x in r.embedding]
        for r in pdf.itertuples()
    }
    n2 = {v: sum(x * x for x in fv) for v, fv in fvs.items()}
    cross = 0
    for vid, (cell, kept) in got.items():
        if kept or vid < half:
            continue
        earlier = [
            o for o, (c2, _) in got.items() if c2 == cell and o < vid
        ]
        match = [
            o for o in earlier
            if (d := sum(p * q for p, q in zip(fvs[vid], fvs[o]))) > 0
            and 25 * d * d >= 4 * n2[vid] * n2[o]
        ]
        assert match, vid
        if all(o < half for o in match):
            cross += 1
    assert cross > 0, "no removal crossed the batch boundary"


def test_semdedup_stream_checkpoint_resume_consistent(spark, tmp_path):
    """Kill after the first micro-batch, resume from the checkpoint: the
    final (vec_id -> cell, kept) map equals the uninterrupted run's —
    the full-cell state replays and no verdict is duplicated or flipped."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids, _ = CL.kmeans_fit(emb, k=8, n_iter=2, with_inertia=False)
    pdf = emb.orderBy("vec_id").toPandas()
    src = str(tmp_path / "sd_src3")
    os.makedirs(src, exist_ok=True)
    quarter = len(pdf) // 4
    for i in range(4):
        pdf.iloc[i * quarter : (i + 1) * quarter].to_parquet(
            os.path.join(src, f"part-{i:03d}.parquet"), index=False
        )

    def run(out, ck, interrupt):
        stream = (
            spark.readStream.schema(EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ev = SD.semdedup_stream(stream, centroids)
        if interrupt:
            q1 = (
                ev.writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ck)
                .start()
            )
            while not q1.recentProgress:
                pass
            q1.stop()
            q1.awaitTermination(60)
        q = (
            ev.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.read.parquet(out).collect()
        got = {int(r["vec_id"]): (int(r["cell"]), int(r["kept"])) for r in rows}
        assert len(rows) == len(got), "duplicated verdicts after resume"
        return got

    a = run(str(tmp_path / "sd_o1"), str(tmp_path / "sd_c1"), interrupt=False)
    b = run(str(tmp_path / "sd_o2"), str(tmp_path / "sd_c2"), interrupt=True)
    assert a == b and len(a) == len(pdf)


def _lang_dir_for(pages_pdf, tmp_path, name="lang_src"):
    lang_pdf = P.gen_lang_detect(pages_pdf)
    d = str(tmp_path / name)
    os.makedirs(d)
    lang_pdf.to_parquet(
        os.path.join(d, "part-0000.parquet"), index=False, coerce_timestamps="us"
    )
    return d


def test_north_star_pipeline_stream_matches_batch(spark, pages_dir, pages_pdf, tmp_path):
    """Capstone: the full north-star sentence in ONE streaming plan —
    per-page counts -> stateful stream-stream join with the late lang side
    stream -> event-time windowed stats keyed by (host, detected_lang) ->
    exactly-once sink — and every emitted row equals the SAME function run
    as a batch plan (withWatermark is a no-op in batch)."""
    lang_dir = _lang_dir_for(pages_pdf, tmp_path)
    pages = S.read_pages_stream(spark, pages_dir)
    lang = spark.readStream.schema(S.LANG_SCHEMA).parquet(lang_dir)
    agg = S.north_star_stats_with_lang(pages, lang, window="10 minutes")
    out = str(tmp_path / "ns_out")
    q = S.write_exactly_once(agg, out, str(tmp_path / "ns_ck"))
    q.awaitTermination(180)
    got = spark.read.parquet(out)

    batch_pages = P.spark_pages(spark, pages_pdf)
    lang_batch = spark.read.schema(S.LANG_SCHEMA).parquet(lang_dir)
    expected = S.north_star_stats_with_lang(batch_pages, lang_batch, window="10 minutes")
    keys = ["w_start", "host", "detected_lang"]
    g = got.toPandas().set_index(keys).sort_index()
    e = expected.toPandas().set_index(keys).sort_index()
    assert len(g) > 0
    joined = g.join(e, how="left", rsuffix="_b")
    for c in (
        "n_pages", "total_chars", "cnt_a", "cnt_c", "cnt_g", "cnt_t", "cnt_n",
        "entropy6_merged", "gc_prop",
    ):
        a = joined[c].astype(float)
        b = joined[f"{c}_b"].astype(float)
        assert ((a == b) | (a.isna() & b.isna())).all(), c


def test_north_star_pipeline_checkpoint_resume(spark, pages_dir, pages_pdf, tmp_path):
    """Kill the capstone pipeline after the first micro-batch and resume
    from the same checkpoint: no duplicate (window, host, lang) keys, and
    every emitted row still equals the batch twin (exactly-once across the
    restart, both stateful operators recovering from RocksDB state)."""
    lang_dir = _lang_dir_for(pages_pdf, tmp_path)
    out = str(tmp_path / "nsr_out")
    ck = str(tmp_path / "nsr_ck")

    def stream(max_files=None):
        pages = S.read_pages_stream(spark, pages_dir, max_files_per_trigger=max_files)
        lang = spark.readStream.schema(S.LANG_SCHEMA).parquet(lang_dir)
        return S.north_star_stats_with_lang(pages, lang, window="10 minutes")

    q1 = (
        stream(max_files=1)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ck)
        .start()
    )
    while not q1.recentProgress:
        pass
    q1.stop()
    q1.awaitTermination(60)

    q2 = S.write_exactly_once(stream(), out, ck)
    q2.awaitTermination(180)
    resumed = spark.read.parquet(out)
    keys = ["w_start", "host", "detected_lang"]
    assert resumed.count() > 0
    assert (
        resumed.groupBy(*keys).count().where(F.col("count") > 1).count() == 0
    ), "duplicate keys after resume"

    batch_pages = P.spark_pages(spark, pages_pdf)
    lang_batch = spark.read.schema(S.LANG_SCHEMA).parquet(lang_dir)
    expected = S.north_star_stats_with_lang(batch_pages, lang_batch, window="10 minutes")
    g = resumed.toPandas().set_index(keys).sort_index()
    e = expected.toPandas().set_index(keys).sort_index()
    joined = g.join(e, how="left", rsuffix="_b")
    for c in ("n_pages", "total_chars", "entropy6_merged"):
        a = joined[c].astype(float)
        b = joined[f"{c}_b"].astype(float)
        assert ((a == b) | (a.isna() & b.isna())).all(), c


def test_sink_increment_and_vacuum(spark, tmp_path):
    """Incremental snapshot reads partition the table exactly (each row
    surfaces in exactly one increment), and orphan vacuum removes only
    unreferenced data files — never committed files, never manifests —
    with an age guard protecting in-flight attempts."""
    import shutil

    import pytest as _pytest

    from fasta_windows_spark.sources import pages as P2

    src = str(tmp_path / "src")
    os.makedirs(src)
    P2.write_pages_parquet(
        P2.gen_pages(n_pages=240, n_hosts=6, seed=11), src, n_files=5
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    agg = S.host_window_stats(
        S.read_pages_stream(spark, src, max_files_per_trigger=1)
    )
    S.write_exactly_once(agg, out, ck).awaitTermination(120)

    batches = S.sink_batches(out)
    assert len(batches) >= 3
    full = S.read_sink_snapshot(spark, out).count()

    # increments partition the table
    total = S.read_sink_snapshot(spark, out, batches[0]).count()
    prev = batches[0]
    for b in batches[1:]:
        inc = S.read_sink_increment(spark, out, prev, b).count()
        want = (
            S.read_sink_snapshot(spark, out, b).count()
            - S.read_sink_snapshot(spark, out, prev).count()
        )
        assert inc == want
        total += inc
        prev = b
    assert total == full
    # an empty increment is empty, not an error
    assert S.read_sink_increment(spark, out, batches[-1]).count() == 0
    # unknown since-batch refuses rather than silently diffing wrong
    with _pytest.raises(ValueError, match="no manifest"):
        S.read_sink_increment(spark, out, 99)
    # ...and so does an unknown up_to_batch (a retention-expired upper
    # bound must not return an empty 'increment')
    with _pytest.raises(ValueError, match="no manifest"):
        S.read_sink_increment(spark, out, batches[0], up_to_batch=99)

    # vacuum: plant an orphan (a failed attempt's leftover data file)
    committed = S._manifest_files(out, batches[-1])
    orphan_src = max(
        (p.replace("file:", "") for p in committed), key=os.path.getsize
    )
    orphan = "part-88888-orphan.parquet"
    shutil.copy(orphan_src, os.path.join(out, orphan))
    # explicit age 0: no writer is running in this test; the DEFAULT must
    # stay nonzero so production calls cannot race an in-flight batch
    assert S.vacuum_sink_orphans(out, 0.0, dry_run=True) == [orphan]
    assert os.path.exists(os.path.join(out, orphan))  # dry run is dry
    import inspect

    assert (
        inspect.signature(S.vacuum_sink_orphans).parameters[
            "min_age_seconds"
        ].default
        > 0
    )
    assert S.vacuum_sink_orphans(out, 0.0) == [orphan]
    assert not os.path.exists(os.path.join(out, orphan))
    # committed data and history intact; the RAW directory read is clean again
    assert S.read_sink_snapshot(spark, out).count() == full
    assert spark.read.parquet(out).count() == full
    assert S.sink_batches(out) == batches
    # age guard: a fresh file (in-flight attempt) is never touched
    fresh = "part-77777-orphan.parquet"
    shutil.copy(orphan_src, os.path.join(out, fresh))
    assert S.vacuum_sink_orphans(out, min_age_seconds=3600) == []
    assert os.path.exists(os.path.join(out, fresh))
    os.remove(os.path.join(out, fresh))


def test_listener_counts_watermark_drops(spark, tmp_path):
    """The progress listener's rows_dropped_by_watermark ledger counts the
    late rows the watermark rejected (the fixture plants ~2% beyond the
    10-minute horizon) — observability for 'is my watermark too tight for
    this crawl', per the north rule's metrics requirement."""
    from fasta_windows_spark.sources import pages as P2
    from fasta_windows_spark.streaming.listener import ProgressCollector

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = P2.gen_pages(n_pages=400, n_hosts=5, seed=17, late_fraction=0.05)
    P2.write_pages_parquet(pdf, src, n_files=8)

    listener = ProgressCollector()
    spark.streams.addListener(listener)
    try:
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        agg = S.host_window_stats(
            S.read_pages_stream(spark, src, max_files_per_trigger=1)
        )
        S.write_exactly_once(agg, out, ck).awaitTermination(120)
        # listener events arrive asynchronously after termination
        import time

        deadline = time.time() + 30
        while (
            listener.total_input_rows() < len(pdf) and time.time() < deadline
        ):
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    assert listener.total_input_rows() == len(pdf)
    dropped = listener.rows_dropped_by_watermark()
    assert dropped > 0, "fixture plants beyond-horizon rows; none were counted"
    # the summary carries the same ledger per batch
    s = listener.summary()
    assert s["rows_dropped_by_watermark"] == dropped
    assert sum(b["droppedByWatermark"] for b in s["batches"]) == dropped
