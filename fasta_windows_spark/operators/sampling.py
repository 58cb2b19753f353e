"""Deterministic hash-based sampling and split assignment for training-data
pipelines.

Both operators key every decision on the md5 of a stable row key, never on
rand(): re-running the job, resuming a stream from checkpoint, or adding
executors CANNOT change which rows are sampled — the property that makes
corpus mixes reproducible and lets an incremental pipeline sample new shards
consistently with old ones. md5-derived buckets also make every decision
reproducible in an ANSI-SQL oracle.

Scale shape: pure narrow JVM projections + filter — no shuffle, no Python;
the sample predicate pushes below downstream aggregations.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# 16-bit bucket space: the first 4 hex chars of md5 compare lexicographically
# exactly like the integer they encode (fixed width, lowercase in both Spark
# and DuckDB), so rate thresholds are plain string literals in SQL.
_BUCKET_HEX_CHARS = 4
_BUCKET_SPACE = 16 ** _BUCKET_HEX_CHARS


def _bucket(key: Column, salt: str) -> Column:
    return F.substring(F.md5(F.concat(key.cast("string"), F.lit(":" + salt))), 1,
                       _BUCKET_HEX_CHARS)


def rate_threshold_hex(rate: float) -> str:
    """Threshold such that P(bucket < threshold) == floor(rate * 2^16)/2^16.
    rate >= 1.0 returns 'zzzz', which sorts above every hex bucket (keep all)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return "zzzz" if rate >= 1.0 else format(int(rate * _BUCKET_SPACE), "04x")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its 16-bit md5
    bucket falls below the stratum's rate threshold. The corpus-mix
    primitive: down-weight over-represented languages/domains to target
    proportions without a shuffle and with exactly reproducible membership
    (stable under reruns, resume, and repartitioning, unlike rand()-based
    df.sample)."""
    bucket = _bucket(F.col(key_col), salt)
    thresh = None
    for stratum, rate in sorted(rates.items()):
        lit = F.lit(rate_threshold_hex(rate))
        thresh = F.when(F.col(stratum_col) == stratum, lit) if thresh is None \
            else thresh.when(F.col(stratum_col) == stratum, lit)
    thresh = thresh.otherwise(F.lit(rate_threshold_hex(default_rate))) \
        if thresh is not None else F.lit(rate_threshold_hex(default_rate))
    return df.where(bucket < thresh)


def split_assign(
    df: DataFrame,
    valid_frac: float = 0.05,
    test_frac: float = 0.05,
    key_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/valid/test assignment by md5 bucket: the split a
    document lands in is a pure function of its key, so re-ingesting a shard
    or growing the corpus never moves old documents across splits (no
    leakage between runs). Adds a `split` column."""
    if valid_frac + test_frac >= 1.0:
        raise ValueError("valid_frac + test_frac must be < 1")
    bucket = _bucket(F.col(key_col), salt)
    v_hi = rate_threshold_hex(valid_frac)
    t_hi = rate_threshold_hex(valid_frac + test_frac)
    return df.withColumn(
        "split",
        F.when(bucket < F.lit(v_hi), "valid")
        .when(bucket < F.lit(t_hi), "test")
        .otherwise("train"),
    )


def mixture_weights(
    df: DataFrame,
    by: str = "source",
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled corpus-mixture weights per group: weight(g) is
    proportional to n_tokens(g)^alpha, normalized to sum to 1. alpha=1
    reproduces natural proportions; alpha -> 0 flattens toward uniform —
    the standard multi-source sampling-temperature scheme for assembling a
    training mix from heterogeneous crawl sources.

    Scale shape: ONE map-side-combined aggregation down to |groups| rows
    (thousands at most) — staged so the 1-row total derives from the tiny
    aggregate, not a second corpus scan (without staging Spark plans two
    full passes: the subtrees differ after pruning, so ReuseExchange never
    fires) — then a broadcast 1-row total joins back. Output: (group,
    n_docs, n_tokens, weight) where weight is rounded to 9 dp — the
    per-group power is deterministic, and the 20-source denominator sum
    differs across engines by <1e-15, far below the rounding step.

    alpha=0.5 is computed via sqrt(), which IEEE-754 requires to be
    correctly rounded — identical in every engine — while pow() carries no
    such guarantee. Other alphas use pow() and may differ in the last ulp.
    """
    from ..staging import stage_scoped

    per = df.groupBy(F.col(by).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).cast("long").alias("n_tokens"),
    )
    if alpha == 0.5:
        p = F.sqrt(F.col("n_tokens"))
    else:
        p = F.pow(F.col("n_tokens"), F.lit(alpha))
    per = stage_scoped(per.withColumn("p", p), scope="mixture_weights")
    tot = per.agg(F.sum("p").alias("tp"))
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("grp").alias(by),
        "n_docs",
        "n_tokens",
        F.round(F.col("p") / F.col("tp"), 9).alias("weight"),
    )


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str = "w",
    key_col: str = "doc_id",
    salt: str = "priority",
) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup, JACM 2007): a weight-
    sensitive sample of k rows supporting unbiased subset-sum estimation —
    the principled way to keep a small, heavy-hitter-aware sketch of a
    corpus (e.g. per-domain token mass) when uniform sampling would miss
    the tail that carries the bytes.

    Each row gets priority q_i = w_i / u_i with u_i uniform in (0, 1];
    the k highest-priority rows are kept, tau is the (k+1)-th priority,
    and w_hat_i = max(w_i, tau) is unbiased for subset sums over the
    sample. When the input has <= k rows the sample is exact (tau = 0,
    w_hat = w).

    Determinism + cross-engine exactness: u_i is derived from md5(key:salt)
    — the same rerun/resume/repartition stability argument as the md5
    bucketing above — as the 32-bit integer h+1 in [1, 2^32], and the
    priority is kept in fixed point: q_fp = (w << 32) div (h+1), exact
    BIGINT arithmetic in any engine (w must be < 2^30; token counts are).
    tau_fp and est_fp (= max(w << 32, tau_fp)) are published in the same
    1/2^32 fixed point, so the driver hashes integers, never floats.
    Rows with w <= 0 carry no mass and are excluded (DLT assumes w > 0).

    Scale shape: the k-largest selection compiles to TakeOrderedAndProject
    — per-partition top-(k+1) heaps merged on the driver, no global sort,
    no full shuffle; the tau extraction then runs over a k+1-row frame
    (single partition BY CONSTRUCTION — bounded by k, not by data size).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = priority_frame(df, weight_col=weight_col, key_col=key_col, salt=salt)
    return _priority_rank_and_tau(q, k, key_col)


def priority_frame(
    df: DataFrame,
    weight_col: str = "w",
    key_col: str = "doc_id",
    salt: str = "priority",
) -> DataFrame:
    """(pk, w, wq, q_fp) — the stateless half of DLT priority sampling
    (the per-row fixed-point priorities), shared by the batch sampler and
    the streaming twin (streaming/sampling.py) so the two cannot drift."""
    key, w = F.col(key_col), F.col(weight_col).cast("long")
    h1 = (
        F.conv(
            F.substring(F.md5(F.concat(key.cast("string"), F.lit(":" + salt))), 1, 8),
            16,
            10,
        ).cast("long")
        + 1
    )
    q = df.select(
        key.alias("pk"),
        w.alias("w"),
        (w * F.lit(2**32)).alias("wq"),
        h1.alias("u_fp"),
    ).where(w > 0)
    return q.select("pk", "w", F.expr("wq div u_fp").alias("q_fp"), "wq")


def _priority_rank_and_tau(q: DataFrame, k: int, key_col: str) -> DataFrame:
    """The finisher half: k highest priorities + tau from the (k+1)-th —
    also the reducer the streaming twin's finalize applies to the union
    of per-shard candidates (any frame carrying pk/w/wq/q_fp)."""
    from pyspark.sql import Window

    top = q.orderBy(F.col("q_fp").desc(), F.col("pk").asc()).limit(k + 1)
    rn = F.row_number().over(
        Window.orderBy(F.col("q_fp").desc(), F.col("pk").asc())
    )
    ranked = top.select("pk", "w", "wq", "q_fp", rn.alias("rn"))
    tau = ranked.agg(
        F.max(F.when(F.col("rn") == k + 1, F.col("q_fp")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tau_fp")
    )
    return (
        ranked.where(F.col("rn") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            F.col("pk").alias(key_col),
            "w",
            "q_fp",
            "tau_fp",
            F.greatest(F.col("wq"), F.col("tau_fp")).cast("long").alias("est_fp"),
        )
    )


def _hash_bucket(col: Column, n_buckets: int) -> Column:
    """Portable n-gram feature hash: first 8 md5 hex chars as a 32-bit
    integer, mod n_buckets. Reproducible in ANSI SQL (DuckDB renders it as
    ('0x'||substr(md5(x),1,8))::BIGINT % B), unlike xxhash64/murmur."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )


def _dsir_lr_col(n_buckets: int) -> Column:
    """The DSIR bucket log-likelihood ratio under add-1 smoothing — the
    ONE definition both the in-plan scorer (dsir_logweights) and the
    trained-model exporter (dsir_bucket_model) compile, so the two can
    never drift."""
    return (
        F.log2((F.col("cnt_t") + 1) / (F.col("t_t") + n_buckets))
        - F.log2((F.col("cnt_r") + 1) / (F.col("t_r") + n_buckets))
    ).alias("lr")


def dsir_bucket_model(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """The TRAINED DSIR model as a table: (b, lr) for EVERY bucket
    0..n_buckets-1 — buckets no training token hashed into carry the
    smoothed default (cnt 0 under add-1), so the exported model can score
    previously-unseen tokens on a live stream. Same one-pass fit as
    dsir_logweights (count + sum(is_target) in a single partial-agg
    groupBy, totals on a broadcast 1-row cross join, bucket spine from a
    0-cost range); the result is n_buckets rows — metadata-sized, made to
    be collected into plan literals (see operators/classify.model_gate).
    """
    toks = docs.select(
        target.cast("long").alias("is_t"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    )
    bkt = (
        toks.select("is_t", _hash_bucket(F.col("tok"), n_buckets).alias("b"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cnt_r"),
            F.sum("is_t").alias("cnt_t"),
        )
    )
    tot = bkt.agg(F.sum("cnt_r").alias("t_r"), F.sum("cnt_t").alias("t_t"))
    spine = docs.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("b")
    )
    return (
        spine.join(F.broadcast(bkt), "b", "left")
        .na.fill({"cnt_r": 0, "cnt_t": 0})
        .crossJoin(F.broadcast(tot))
        .select("b", _dsir_lr_col(n_buckets))
    )


def dsir_logweights(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like it is under two hashed bag-of-words models.

    Features are lowercased whitespace tokens hashed into ``n_buckets``
    buckets (the paper's hashed n-gram generative model); the target LM is
    fit on rows where ``target`` is true, the raw LM on ALL rows, both with
    add-1 smoothing over the bucket space. The per-document log importance
    weight is

        logw(d) = sum_b tf(d, b) * [log2 p_target(b) - log2 p_raw(b)]

    — positive means "looks like the target distribution", the quantity
    DSIR resamples on (see :func:`dsir_gumbel_topk`).

    Determinism/oracle: the bucket hash is md5-derived (portable to SQL),
    both LMs are integer-count rationals, and the single float step — the
    log2 of those rationals, summed per doc and rounded to 6 dp — follows
    the same cross-engine argument as unigram_surprisal (hash-green since
    r2). One corpus pass fits BOTH models: cnt_raw = count(*),
    cnt_target = sum(is_target) in the same map-side-combined aggregation.

    Scale shape: the corpus is tokenized ONCE — tokens reduce to
    (doc, bucket) term frequencies via partial-agg groupBy (<= n_buckets
    rows per doc, NOT total tokens), and BOTH bucket LMs roll up from that
    staged tf frame (cnt_raw = sum(tf), cnt_target = sum(tf * is_target)
    in one aggregation), so nothing downstream re-reads the text. The
    bucket model table is n_buckets rows and broadcasts; the 1-row totals
    ride a broadcast cross join. At 100 TB the staged tf frame is the
    bucketed intermediate table (see staging.py). No Python, no global
    sort, text never shuffles.
    """
    from ..staging import stage_scoped

    toks = docs.select(
        F.col(id_col).alias("doc"),
        target.cast("long").alias("is_t"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    )
    tb = toks.select("doc", "is_t", _hash_bucket(F.col("tok"), n_buckets).alias("b"))
    tf = stage_scoped(
        tb.groupBy("doc", "b").agg(
            F.count(F.lit(1)).alias("tf"), F.max("is_t").alias("is_t")
        ),
        scope="dsir_tf",
    )
    bkt = tf.groupBy("b").agg(
        F.sum("tf").alias("cnt_r"),
        F.sum(F.col("tf") * F.col("is_t")).alias("cnt_t"),
    )
    tot = bkt.agg(
        F.sum("cnt_r").alias("t_r"), F.sum("cnt_t").alias("t_t")
    )
    lr = bkt.crossJoin(F.broadcast(tot)).select("b", _dsir_lr_col(n_buckets))
    return (
        tf.join(F.broadcast(lr), "b")
        .groupBy("doc")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * F.col("lr")), 6).alias("logw"),
        )
        .select(F.col("doc").alias(id_col), "n_tokens", "logw")
    )


def dsir_gumbel_topk(
    weights: DataFrame,
    k: int,
    logw_col: str = "logw",
    key_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """DSIR's resampling step: sample k documents WITHOUT replacement with
    probability proportional to exp(logw) via the Gumbel top-k trick —
    equivalent to keeping the k largest (logw + g_i) with g_i standard
    Gumbel noise (Kool et al., ICML 2019; the sampler Xie et al. use).

    Determinism/oracle: g_i = -ln(-ln(u_i)) with u_i = (h_i + 0.5) / 2^32
    and h_i the 32-bit md5 of key:salt — the same rerun/resume/
    repartition-stable recipe as priority_sample, never rand(). The
    selection key is rounded to 6 dp BEFORE the top-k (ties broken by key
    ascending) so the boundary comparison is on driver-hashable values in
    both engines, not on last-ulp float noise.

    Scale shape: compiles to TakeOrderedAndProject — per-partition top-k
    heaps merged on the driver, no global sort, no shuffle of the corpus.
    Output: (key, logw, gumbel_key) for the k selected rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(float(2**32))
    g = -F.log(-F.log(u))
    keyed = weights.select(
        F.col(key_col),
        F.col(logw_col),
        F.round(F.col(logw_col) + g, 6).alias("gumbel_key"),
    )
    return keyed.orderBy(
        F.col("gumbel_key").desc(), F.col(key_col).asc()
    ).limit(k)


def epoch_order(
    df: DataFrame,
    salt: str = "epoch0",
    n_shards: int = 8,
    n_groups: int = 4096,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch shuffle with EXACT global positions: the
    training-data-ordering stage (fixed, reproducible sample order is a
    stated requirement of large-LM training runs — bitwise-identical data
    order across restarts and across reshards of the same corpus).

    Each row gets shuffle_key = the first 15 md5 hex chars of
    "key:salt" as a 60-bit BIGINT (a new salt = a new epoch's
    permutation), global_pos = its exact rank under (shuffle_key, key)
    — a total order; the key tiebreak makes md5 collisions harmless —
    plus the data-loader resume coordinates shard = global_pos mod
    n_shards and step = global_pos div n_shards (round-robin shard
    assignment: every shard sees the same number of steps +/-1, and step
    s of shard d is reconstructible from (d, s) alone).

    Why not ``row_number() OVER (ORDER BY shuffle_key)``: that compiles
    to Exchange SinglePartition — every row of a 100 TB corpus through
    one core. This uses the segmented-scan decomposition of
    packing.running_offset, with the group key derived from the VALUE
    being ranked (shuffle_key div 2^60/n_groups — md5 keys are uniform,
    so groups are balanced without a range sampler and the plan is
    replay-stable): one hash shuffle on the group key, a within-group
    window on the same clustering (no second shuffle), and a broadcast
    join against the metadata-sized per-group offset table.
    """
    if 2**60 % n_groups:
        raise ValueError(f"n_groups must divide 2^60, got {n_groups}")
    from pyspark.sql import Window

    key = F.col(key_col)
    keyed = df.select(
        key,
        F.conv(
            F.substring(
                F.md5(F.concat(key.cast("string"), F.lit(":" + salt))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("shuffle_key"),
    )
    d = keyed.withColumn("_grp", F.expr(f"shuffle_key div {2**60 // n_groups}"))
    w_in = Window.partitionBy("_grp").orderBy("shuffle_key", key_col)
    d = d.withColumn("_local", F.row_number().over(w_in) - F.lit(1))
    counts = d.groupBy("_grp").agg(F.count(F.lit(1)).alias("_cnt"))
    w_across = Window.orderBy("_grp").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_grp", F.coalesce(F.sum("_cnt").over(w_across), F.lit(0)).alias("_goff")
    )
    return (
        d.join(F.broadcast(offs), "_grp")
        .select(
            key_col,
            "shuffle_key",
            (F.col("_local") + F.col("_goff")).cast("long").alias("global_pos"),
        )
        .withColumn("shard", F.pmod(F.col("global_pos"), F.lit(n_shards)).cast("int"))
        .withColumn(
            "step", F.expr(f"global_pos div {int(n_shards)}").cast("long")
        )
    )


def leakage_safe_split(
    labels: DataFrame,
    valid_frac: float = 0.05,
    test_frac: float = 0.05,
    id_col: str = "doc_id",
    comp_col: str = "component_id",
) -> DataFrame:
    """Duplicate-aware train/valid/test assignment: hash the duplicate
    COMPONENT label, not the document id, so every member of a
    near-duplicate cluster lands in the same split BY CONSTRUCTION — the
    standard fix for eval contamination via near-duplicates (a doc-keyed
    split puts two fuzzy copies of the same page on opposite sides of the
    train/test fence; docs_split_leakage_report MEASURES that leak, this
    operator removes it).

    `labels` is any (id, component) frame — e.g. connected_components over
    the MinHash band-pair graph. Determinism inherits from split_assign:
    the split is a pure function of the component label, and component
    labels are min-doc_id, so re-running on a grown corpus never moves an
    existing CLUSTER across splits unless two old clusters merge (in which
    case moving one of them is unavoidable for correctness).

    Plan shape: the split column is a narrow projection over the labels
    frame — no extra shuffle beyond what the label computation already
    did. Returns (id, component, split)."""
    return split_assign(
        labels, valid_frac, test_frac, key_col=comp_col
    ).select(id_col, comp_col, "split")


def negative_sampling_table(
    docs: DataFrame, text_col: str = "text", fp_scale: int = 10**6
) -> DataFrame:
    """The word2vec negative-sampling table (Mikolov et al. 2013): per
    token, the unigram count raised to 3/4 and normalized, plus the
    cumulative probability range [cum_lo, cum_hi) a sampler maps uniform
    draws into — the skew-flattening trick every contrastive trainer
    ships with.

    Cross-engine exactness for an x^0.75: pow() carries no IEEE
    correct-rounding guarantee, but sqrt() does — so c^(3/4) is computed
    as sqrt(sqrt(c*c*c)) (c^3 stays exact BIGINT below 2^53 for
    c <= ~2M; two correctly-rounded sqrts are bit-identical in any IEEE
    engine — the mixture_weights alpha=0.5 precedent extended to 3/4).
    The per-token double is quantized to integer micro-units BEFORE any
    aggregation (w_int = floor(c^0.75 * 1e6)), so the total and the
    cumulative ranges are BIGINT sums — order-free, engine-free exact
    (a float running sum would round differently under DuckDB's
    segment-tree window aggregation vs Spark's sequential frame; integer
    sums cannot). Plan: one token groupBy, a 1-row total broadcast, one
    vocabulary-sized cumulative window from a deterministic
    (w_int DESC, token) total order (vocabulary rows are metadata-sized
    next to the corpus — the BPE-trainer precedent for a single-partition
    window). Rows come out in that same order, so each row's cum_lo_fp is
    the previous row's cum_hi_fp, and the last row's cum_hi_fp equals
    fp_scale by construction.

    Overflow bound: the largest product is w_total * fp_scale; with both
    quantizers at 1e6 that stays under 2^63 while sum(c^0.75) < ~9.2e6
    (true far beyond test scale). Past it, split the division via the
    floor identity (a DIV t)*s + ((a % t)*s) DIV t — same exact result,
    half-width products."""
    tok = docs.select(
        F.explode(
            F.expr(f"filter(split(lower({text_col}), ' '), x -> x <> '')")
        ).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").cast("long").alias("c"))
    # sqrt(sqrt(c^3)) is bit-identical cross-engine; floor-quantize it
    w = counts.withColumn(
        "w_int", F.expr("floor(sqrt(sqrt(c * c * c)) * 1000000)")
    )
    tot = w.agg(F.sum("w_int").alias("w_total"))
    from pyspark.sql import Window

    ordering = Window.orderBy(F.desc("w_int"), F.asc("token"))
    return (
        w.crossJoin(F.broadcast(tot))
        .withColumn("cum_w", F.sum("w_int").over(ordering))
        # emit in the accumulation order, so consecutive ranges tile even
        # where two w_int floor to one w_fp
        .orderBy(F.desc("w_int"), F.asc("token"))
        .selectExpr(
            "token",
            "c",
            f"cast(w_int * {fp_scale} DIV w_total as bigint) AS w_fp",
            f"cast((cum_w - w_int) * {fp_scale} DIV w_total as bigint) AS cum_lo_fp",
            f"cast(cum_w * {fp_scale} DIV w_total as bigint) AS cum_hi_fp",
        )
    )
