"""Deterministic sampling/split + paragraph dedup semantics."""

import hashlib

import pytest

from fasta_windows_spark.operators import sampling
from fasta_windows_spark.operators.dedup import paragraph_dedup
from tests.conftest import SF_DIR


def test_rate_threshold_edges():
    assert sampling.rate_threshold_hex(0.0) == "0000"
    assert sampling.rate_threshold_hex(0.5) == "8000"
    assert sampling.rate_threshold_hex(1.0) == "zzzz"
    with pytest.raises(ValueError):
        sampling.rate_threshold_hex(1.5)


def test_stratified_sample_deterministic_and_subset_stable(spark):
    """Membership is a pure function of the key: a rerun returns the same
    rows, and sampling HALF the corpus returns exactly the full-corpus
    sample restricted to that half (the property rand()-based sampling
    breaks, and the one incremental ingestion relies on)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = {"en": 0.5, "de": 0.25, "fr": 0.125}
    ids1 = {r[0] for r in sampling.stratified_sample(docs, rates).select("doc_id").collect()}
    ids2 = {r[0] for r in sampling.stratified_sample(docs, rates).select("doc_id").collect()}
    assert ids1 == ids2
    half = docs.where("doc_id % 2 = 0")
    ids_half = {r[0] for r in sampling.stratified_sample(half, rates).select("doc_id").collect()}
    assert ids_half == {i for i in ids1 if i % 2 == 0}


def test_stratified_sample_rates_within_tolerance(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = {"en": 0.5, "de": 0.25}
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg({"*": "count"})
              .withColumnRenamed("count(1)", "n").collect()}
    got = {r["lang"]: r["n"] for r in sampling.stratified_sample(docs, rates)
           .groupBy("lang").agg({"*": "count"}).withColumnRenamed("count(1)", "n").collect()}
    # binomial 4-sigma tolerance per stratum
    for lang, rate in rates.items():
        n = totals[lang]
        mean, sd = n * rate, (n * rate * (1 - rate)) ** 0.5
        assert abs(got.get(lang, 0) - mean) <= 4 * sd + 1, (lang, got.get(lang), mean)
    # default rate 1.0: untargeted strata fully kept
    for lang in totals:
        if lang not in rates:
            assert got.get(lang) == totals[lang], lang


def test_split_assign_matches_python_md5_and_partitions(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = sampling.split_assign(docs, valid_frac=0.05, test_frac=0.05).select(
        "doc_id", "split"
    ).collect()
    assert len(rows) == docs.count()
    v_hi = sampling.rate_threshold_hex(0.05)
    t_hi = sampling.rate_threshold_hex(0.10)
    for r in rows:
        b = hashlib.md5(f"{r['doc_id']}:split".encode()).hexdigest()[:4]
        want = "valid" if b < v_hi else ("test" if b < t_hi else "train")
        assert r["split"] == want, (r, b)


def test_paragraph_dedup_matches_python_reference(spark):
    """Tiny constructed corpus with in-doc and cross-doc duplicate
    paragraphs, exact-duplicate docs, and a short tail chunk — compared
    against a transparent python keep-first scan."""
    para_words = 3
    texts = {
        1: "a b c d e f",          # paras: [a b c][d e f]
        2: "a b c x y z g",        # [a b c] dup of doc1, [x y z], tail [g]
        3: "a b c d e f",          # exact dup of doc 1 -> keeps nothing
        4: "x y z x y z",          # in-doc duplicate -> keeps 1 of 2
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"])
        for r in paragraph_dedup(docs, para_words=para_words).collect()
    }
    seen, want = set(), {}
    for doc_id in sorted(texts):
        toks = texts[doc_id].split(" ")
        paras = [
            " ".join(toks[i : i + para_words])
            for i in range(0, len(toks), para_words)
        ]
        kept = 0
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept += 1
        want[doc_id] = (len(paras), kept)
    assert got == want


def test_snapshot_delta_statuses(spark):
    from fasta_windows_spark.operators.delta import snapshot_delta

    prev = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    curr = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_delta(prev, curr).collect()}
    assert got == {1: "deleted", 2: "same", 3: "changed", 4: "added"}


def test_compression_ratio_matches_python_zlib(spark):
    import zlib

    from fasta_windows_spark.functions.text import with_compression_ratio

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        r["doc_id"]: r["compression_ratio"]
        for r in with_compression_ratio(docs).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        raw = r["text"].encode("utf-8")
        want = round(len(zlib.compress(raw, 6)) / len(raw), 6) if raw else None
        assert got[r["doc_id"]] == want, r["doc_id"]
    # sane range: >0 always; >1 only possible for very short docs where the
    # ~11-byte zlib envelope dominates
    vals = [v for v in got.values() if v is not None]
    assert vals and all(0.0 < v < 1.5 for v in vals)
    assert sum(v < 1.0 for v in vals) > len(vals) * 0.9


def test_url_normalize_is_idempotent(spark):
    """Canonicalization must be a projection onto its own fixed points:
    normalizing an already-normalized URL changes nothing."""
    import pyspark.sql.functions as F

    from fasta_windows_spark.functions.text import normalize_urls

    urls = [
        "HTTP://WWW.Example.COM:80/Path/1?utm_source=x&id=1#f",
        "https://example.org:8080/a?id=2&utm_medium=y",
        "http://www.a.b/?utm_a=1&utm_b=2",
        "ftp://Host.Name/Path",
        "http://x.y/p?id=3",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = normalize_urls(df).select(F.col("url_norm").alias("url"))
    twice = normalize_urls(once)
    rows = twice.select("url", "url_norm").collect()
    assert all(r["url"] == r["url_norm"] for r in rows), rows


def test_paragraph_dedup_conserves_distinct_count(spark):
    """Keep-first invariant: summed kept paragraphs == corpus-wide
    distinct paragraph count, and no doc keeps more than it has."""
    import pyspark.sql.functions as F

    from fasta_windows_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = paragraph_dedup(docs, para_words=20).collect()
    kept = sum(r["n_kept"] for r in out)
    toks = "split(text, ' ')"
    distinct = (
        docs.where(F.length("text") > 0)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size({toks})/20.0) as int) - 1), "
                    f"i -> md5(array_join(slice({toks}, i*20 + 1, 20), ' ')))"
                )
            ).alias("h")
        )
        .distinct()
        .count()
    )
    assert kept == distinct
    assert all(0 <= r["n_kept"] <= r["n_paras"] for r in out)


# ---------------------------------------------------------------------------
# priority sampling (Duffield–Lund–Thorup)
# ---------------------------------------------------------------------------

def _py_priority_sample(rows, k, salt="priority"):
    """Pure-Python twin written against the DLT spec with exact integers:
    q = (w << 32) // (h+1), keep k largest (ties: smaller key first),
    tau = the (k+1)-th priority (0 if none), est = max(w << 32, tau)."""
    pri = []
    for key, w in rows:
        if w <= 0:
            continue
        h = int(hashlib.md5(f"{key}:{salt}".encode()).hexdigest()[:8], 16)
        pri.append((key, w, (w << 32) // (h + 1)))
    pri.sort(key=lambda t: (-t[2], t[0]))
    tau = pri[k][2] if len(pri) > k else 0
    return {
        key: (w, q, tau, max(w << 32, tau)) for key, w, q in pri[:k]
    }


def test_priority_sample_matches_python_reference(spark):
    rows = [(f"d{i}", (i * 37) % 91 + 1) for i in range(200)]
    rows += [("zero", 0), ("neg", -5)]  # excluded: no mass
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = {
        r["doc_id"]: (r["w"], r["q_fp"], r["tau_fp"], r["est_fp"])
        for r in sampling.priority_sample(df, k=25).collect()
    }
    assert got == _py_priority_sample([(k, w) for k, w in rows], 25)


def test_priority_sample_exact_when_k_covers_input(spark):
    rows = [(f"d{i}", i + 1) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    out = sampling.priority_sample(df, k=50).collect()
    assert len(out) == 10
    for r in out:
        assert r["tau_fp"] == 0
        assert r["est_fp"] == r["w"] << 32  # estimator degenerates to exact


def test_priority_sample_partition_invariant(spark):
    rows = [(f"d{i}", (i * 13) % 50 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    one = sorted(map(tuple, sampling.priority_sample(df.coalesce(1), 20).collect()))
    many = sorted(map(tuple, sampling.priority_sample(df.repartition(17), 20).collect()))
    assert one == many


def test_priority_sample_estimator_is_one_sided(spark):
    """w_hat = max(w, tau) >= w for every sampled row, and every sampled
    row's priority is >= tau (the defining property of the sample)."""
    rows = [(f"d{i}", (i * 7) % 30 + 1) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    for r in sampling.priority_sample(df, k=15).collect():
        assert r["est_fp"] >= r["w"] << 32
        assert r["q_fp"] >= r["tau_fp"]


def test_dsir_logweights_python_reference(spark):
    """Lockstep with an independent pure-Python DSIR implementation on a
    tiny synthetic corpus (target = lang 'en')."""
    import math

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "le chat et le chien", "fr"),
        (3, "the dog and the cat", "en"),
        (4, "der hund und die katze", "de"),
        (5, "cat dog mat dog cat", "fr"),
    ]
    B = 16

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B

    cnt_r, cnt_t = {}, {}
    for _, text, lang in rows:
        for tok in text.lower().split(" "):
            b = bucket(tok)
            cnt_r[b] = cnt_r.get(b, 0) + 1
            if lang == "en":
                cnt_t[b] = cnt_t.get(b, 0) + 1
    t_r, t_t = sum(cnt_r.values()), sum(cnt_t.values())
    lr = {
        b: math.log2((cnt_t.get(b, 0) + 1) / (t_t + B))
        - math.log2((cnt_r[b] + 1) / (t_r + B))
        for b in cnt_r
    }
    want = {}
    for doc_id, text, _ in rows:
        toks = text.lower().split(" ")
        want[doc_id] = (len(toks), round(sum(lr[bucket(t)] for t in toks), 6))

    import pyspark.sql.functions as F

    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["logw"])
        for r in sampling.dsir_logweights(
            docs, target=F.col("lang") == "en", n_buckets=B
        ).collect()
    }
    assert got == want
    # the English docs must score higher than every non-English doc
    en = {1, 3}
    assert min(got[i][1] for i in en) > max(got[i][1] for i in got if i not in en)


def test_dsir_gumbel_topk_deterministic_and_weight_sensitive(spark):
    """Rerun-stable membership; a doc whose logw dominates every possible
    Gumbel draw is always selected; k >= 1 enforced."""
    import pyspark.sql.functions as F

    n = 200
    w = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 7, F.lit(1e6)).otherwise(
            (F.col("id") % 10).cast("double")
        ).alias("logw"),
    )
    k = 20
    s1 = {r["doc_id"] for r in sampling.dsir_gumbel_topk(w, k=k).collect()}
    s2 = {
        r["doc_id"]
        for r in sampling.dsir_gumbel_topk(w.repartition(7), k=k).collect()
    }
    assert s1 == s2 and len(s1) == k
    assert 7 in s1
    with pytest.raises(ValueError):
        sampling.dsir_gumbel_topk(w, k=0)


# ---------------------------------------------------------------------------
# epoch_order: deterministic epoch shuffle with exact global positions
# ---------------------------------------------------------------------------


def _py_epoch_order(ids, salt="epoch0", n_shards=8):
    keyed = sorted(
        (int(hashlib.md5(f"{i}:{salt}".encode()).hexdigest()[:15], 16), i)
        for i in ids
    )
    return {
        i: (k, pos, pos % n_shards, pos // n_shards)
        for pos, (k, i) in enumerate(keyed)
    }


def test_epoch_order_matches_python_reference(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    got = {
        r["doc_id"]: (r["shuffle_key"], r["global_pos"], r["shard"], r["step"])
        for r in sampling.epoch_order(docs).collect()
    }
    ids = [r[0] for r in docs.collect()]
    assert got == _py_epoch_order(ids)


def test_epoch_order_partition_invariant_and_salt_changes_permutation(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    a = {r["doc_id"]: r["global_pos"] for r in sampling.epoch_order(docs).collect()}
    b = {
        r["doc_id"]: r["global_pos"]
        for r in sampling.epoch_order(docs.repartition(13)).collect()
    }
    assert a == b
    c = {
        r["doc_id"]: r["global_pos"]
        for r in sampling.epoch_order(docs, salt="epoch1").collect()
    }
    assert c != a  # a new salt is a new permutation
    assert sorted(c.values()) == sorted(a.values())  # ...of the same positions


def test_epoch_order_no_corpus_wide_single_partition(spark):
    """The ranking must NOT be a global window: the only SinglePartition
    exchange feeds the #groups-row offsets window (the packing.running_offset
    shape); the corpus itself is ranked under a hash-partitioned window."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    df = sampling.epoch_order(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(_grp" in plan


def test_epoch_order_shards_balanced(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    out = sampling.epoch_order(docs, n_shards=8)
    sizes = [r["n"] for r in out.groupBy("shard").count().withColumnRenamed("count", "n").collect()]
    assert max(sizes) - min(sizes) <= 1  # round-robin: equal +/- 1


# --- token drift (operators/delta.token_drift_*) ---


def _drift_python(prev_texts, curr_texts):
    """Exact-fraction TV reference, independent of Spark and SQL."""
    from collections import Counter
    from fractions import Fraction

    c1 = Counter(t for x in prev_texts for t in x.lower().split(" "))
    c2 = Counter(t for x in curr_texts for t in x.lower().split(" "))
    n1, n2 = sum(c1.values()), sum(c2.values())
    toks = set(c1) | set(c2)
    tv = sum(
        abs(Fraction(c1.get(t, 0), n1) - Fraction(c2.get(t, 0), n2))
        for t in toks
    ) / 2
    return n1, n2, toks, tv


def test_token_drift_matches_exact_fractions(spark):
    from fasta_windows_spark.operators import delta

    prev_texts = ["a b c a", "d e f", "a a b"]
    curr_texts = ["a b c", "d e f g g", "h h h h"]
    prev = spark.createDataFrame(
        [(i, t) for i, t in enumerate(prev_texts)], "doc_id long, text string"
    )
    curr = spark.createDataFrame(
        [(i, t) for i, t in enumerate(curr_texts)], "doc_id long, text string"
    )
    r = delta.token_drift_summary(prev, curr).collect()[0]
    n1, n2, toks, tv = _drift_python(prev_texts, curr_texts)
    assert (r.n1, r.n2, r.n_union_tokens) == (n1, n2, len(toks))
    assert r.tv_fp == int(tv * 1_000_000)  # floor of the exact fraction
    top = delta.token_drift_topk(prev, curr, k=3).collect()
    # h: |0*n2 - 4*n1| = 4*10 = 40 is the largest mover
    assert top[0].tok == "h" and top[0].c1 == 0 and top[0].c2 == 4


def test_token_drift_identical_snapshots_zero(spark):
    from fasta_windows_spark.operators import delta

    d = spark.createDataFrame(
        [(1, "x y z"), (2, "y z")], "doc_id long, text string"
    )
    r = delta.token_drift_summary(d, d).collect()[0]
    assert r.tv_fp == 0 and r.n_prev_only == 0 and r.n_curr_only == 0


def test_token_drift_disjoint_snapshots_full(spark):
    from fasta_windows_spark.operators import delta

    a = spark.createDataFrame([(1, "p q")], "doc_id long, text string")
    b = spark.createDataFrame([(1, "r s")], "doc_id long, text string")
    r = delta.token_drift_summary(a, b).collect()[0]
    assert r.tv_fp == 1_000_000  # TV = 1 exactly
    assert r.n_prev_only == 2 and r.n_curr_only == 2


def test_token_drift_partition_invariant(spark):
    from fasta_windows_spark.operators import delta

    rows = [(i, f"w{i % 13} w{i % 7} common") for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    prev = d.where("doc_id % 3 != 0")
    curr = d.where("doc_id % 4 != 0")
    a = delta.token_drift_summary(
        prev.repartition(1), curr.repartition(1)
    ).collect()[0]
    b = delta.token_drift_summary(
        prev.repartition(23), curr.repartition(5)
    ).collect()[0]
    assert a.asDict() == b.asDict()


# --- leakage-safe split ------------------------------------------------------


def test_leakage_safe_split_no_pair_crosses_splits(spark):
    """THE invariant: no MinHash band pair — the near-duplicate candidate
    graph the split must respect — has its two docs in different splits."""
    from fasta_windows_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.minhash_band_pairs(dedup.minhash_signatures(docs))
    labels = dedup.connected_components(pairs, docs.select("doc_id"))
    split = sampling.leakage_safe_split(labels)
    crossing = (
        pairs.join(
            split.select("doc_id", "split"),
            pairs.doc_a == split.doc_id,
        )
        .drop("doc_id")
        .withColumnRenamed("split", "split_a")
        .join(
            split.select("doc_id", "split"),
            pairs.doc_b == split.doc_id,
        )
        .where("split_a <> split")
        .count()
    )
    assert crossing == 0
    assert pairs.count() > 0  # the invariant is non-vacuous on this corpus


def test_leakage_safe_split_component_determines_split(spark):
    """Every member of a component carries the identical split, and the
    split equals split_assign of the component label (so the assignment
    stays rerun-stable the way docs_split_assign is)."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)],
        "doc_id long, component_id long",
    )
    rows = sampling.leakage_safe_split(labels).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_comp.values())
    import hashlib as _h

    for r in rows:
        b = _h.md5(f"{r.component_id}:split".encode()).hexdigest()[:4]
        want = "valid" if b < "0ccc" else ("test" if b < "1999" else "train")
        assert r.split == want


def test_leakage_safe_split_fractions_sane(spark):
    """Splits cover everything and train dominates at the default rates."""
    from fasta_windows_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.minhash_band_pairs(dedup.minhash_signatures(docs))
    labels = dedup.connected_components(pairs, docs.select("doc_id"))
    split = sampling.leakage_safe_split(labels)
    counts = {r.split: r.n for r in split.groupBy("split").agg(
        __import__("pyspark").sql.functions.count("*").alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert counts.get("train", 0) > counts.get("valid", 0)
    assert counts.get("train", 0) > counts.get("test", 0)


# --- negative sampling table -------------------------------------------------


def test_negative_sampling_table_properties(spark):
    """Ranges tile [0, 1e6) contiguously in table order, the last cum_hi
    is the full scale, weights are monotone in count, and w_fp matches a
    python recomputation of the same integer arithmetic."""
    import math

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = sampling.negative_sampling_table(docs).collect()
    assert rows[-1].cum_hi_fp == 10**6
    pos = 0
    for r in rows:
        assert r.cum_lo_fp == pos
        assert r.cum_hi_fp > r.cum_lo_fp
        pos = r.cum_hi_fp
    for a, b in zip(rows, rows[1:]):
        assert a.c >= b.c or a.w_fp >= b.w_fp  # ordered by weight
    # python lockstep of the exact integer pipeline
    w_int = {r.token: math.floor(math.sqrt(math.sqrt(r.c**3)) * 10**6) for r in rows}
    total = sum(w_int.values())
    for r in rows:
        assert r.w_fp == w_int[r.token] * 10**6 // total


def test_negative_sampling_ranges_tile_when_w_fp_ties(spark):
    """Two tokens whose w_int differ but floor to one w_fp, with the token
    tie-break reversed ("b" is heavier than "a"): the table lists rows in
    the order the ranges accumulate, so they still tile."""
    df = spark.createDataFrame([(1, "z " * 11 + "b b a")], "doc_id long, text string")
    rows = sampling.negative_sampling_table(df, fp_scale=10).collect()
    assert [(r.token, r.c, r.w_fp) for r in rows] == [("z", 11, 6), ("b", 2, 1), ("a", 1, 1)]
    assert [(r.cum_lo_fp, r.cum_hi_fp) for r in rows] == [(0, 6), (6, 8), (8, 10)]


def test_negative_sampling_flattens_skew(spark):
    """alpha=3/4 compresses the dynamic range: the heavy token's share of
    the table is strictly below its share of the raw counts."""
    rows_in = [(i, "hot " * 99 + "cold") for i in range(50)]
    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    rows = {r.token: r for r in sampling.negative_sampling_table(df).collect()}
    raw_share = rows["hot"].c / (rows["hot"].c + rows["cold"].c)
    smooth_share = rows["hot"].w_fp / (rows["hot"].w_fp + rows["cold"].w_fp)
    assert smooth_share < raw_share
    assert rows["hot"].w_fp > rows["cold"].w_fp  # still heavier, just less so
