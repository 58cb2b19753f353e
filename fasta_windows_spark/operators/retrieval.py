"""Full-text retrieval over the documents corpus: exact cross-engine BM25.

BM25 (k1 = 6/5, b = 3/4) is normally a float formula whose log-idf and
unordered float sums make it impossible to hash-compare across engines.
This operator removes both hazards WITHOUT changing the ranking math:

- the Robertson idf is used in its pre-log rational form
  (N - df + 0.5) / (df + 0.5) = (2N - 2df + 1) / (2df + 1) — a monotone
  transform of the usual ln(1 + idf) per term, kept exact in BIGINT;
- the tf saturation term tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) is
  cleared of the rational avgdl = S/N by multiplying through by 10*S
  (k1 = 6/5, b = 3/4 ⇒ numerator 22*tf*S, denominator
  10*tf*S + 3*S + 9*dl*N), so each term score is a ratio of two BIGINTs
  that stay below 2^53 at every test scale — the BIGINT→DOUBLE cast and
  the IEEE division are then bit-identical in Spark and DuckDB;
- the query has a FIXED small term list, so the document score is a
  fixed-order sum (s0 + s1 + s2, left-associated in both engines), never
  a data-ordered float aggregate.

Result: (score DESC, doc_id) is a cross-engine total order and top-k
retrieval is oracle-exact, not approximately compared.

Scale shape: the per-document tf/dl columns are higher-order-function
expressions over split() — no explode, no shuffle; the corpus statistics
(N, S, df per term) are ONE 1-row aggregate broadcast back; top-k is
TakeOrderedAndProject. At 10^12 docs this is a single narrow scan plus a
metadata-sized broadcast — the df/N/S statistics would be maintained
incrementally per crawl increment rather than recomputed, but the scoring
pass is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BM25_SCALE_NOTE = "exact below 2^53: num <= (2N+1)*22*tf*S, den <= (2df+1)*(10*tf+3)*S+9*dl*N terms"


def _lowered(tokens, what: str) -> list[str]:
    """Query tokens as matched: each must be alphanumeric (it is inlined in
    SQL), then lowercased, because the text is tokenized from lower(text) —
    an uppercase token would otherwise match nothing, silently."""
    for t in tokens:
        if not t.isalnum():
            raise ValueError(f"{what} must be alphanumeric: {t!r}")
    return [t.lower() for t in tokens]


def per_doc_term_stats(
    docs: DataFrame, terms, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, dl, tf_<term>...) — document length in non-empty tokens and
    per-query-term frequencies, all as pure JVM array expressions (one
    narrow projection, zero explode/shuffle)."""
    # stage the token array ONCE per row (measured 1.8x over re-splitting
    # inside every size(filter(split(...))) column at sf0.1)
    toksed = docs.select(
        id_col,
        F.expr(f"filter(split(lower({text_col}), ' '), x -> x <> '')").alias(
            "_toks"
        ),
    )
    cols = [F.col(id_col), F.expr("cast(size(_toks) as bigint)").alias("dl")]
    for t in _lowered(terms, "query term"):
        cols.append(
            F.expr(f"cast(size(filter(_toks, x -> x = '{t}')) as bigint)").alias(
                f"tf_{t}"
            )
        )
    return toksed.select(*cols)


def bm25_search(
    docs: DataFrame,
    terms=("stream", "window", "join"),
    topk: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 retrieval for a fixed term query, exact across engines
    (module docstring). Returns (doc_id, dl, tf_<term>..., score) for the
    topk highest-scoring documents matching at least one term, ordered by
    (score DESC, doc_id)."""
    terms = _lowered(terms, "query term")
    pd_stats = per_doc_term_stats(docs, terms, text_col, id_col)
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("s_toks"),
    ]
    for t in terms:
        aggs.append(
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
        )
    stats = pd_stats.agg(*aggs)
    scored = pd_stats.crossJoin(F.broadcast(stats))
    score = None
    for t in terms:
        num = f"(2 * n_docs - 2 * df_{t} + 1) * 22 * tf_{t} * s_toks"
        den = f"(2 * df_{t} + 1) * (10 * tf_{t} * s_toks + 3 * s_toks + 9 * dl * n_docs)"
        term_score = F.expr(
            f"if(tf_{t} > 0, cast({num} as double) / cast({den} as double), 0.0d)"
        )
        score = term_score if score is None else score + term_score
    matched = None
    for t in terms:
        m = F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)
        matched = m if matched is None else matched + m
    return (
        scored.withColumn("score", score)
        .where(matched > 0)
        .select(id_col, "dl", *[f"tf_{t}" for t in terms], "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(topk)
    )


def bm25_oracle_sql(terms=("stream", "window", "join"), topk: int = 20) -> str:
    """DuckDB replay of bm25_search: identical BIGINT clearing, identical
    fixed-order double sum, so the hash comparison is exact."""
    terms = [t.lower() for t in terms]
    tf_defs = ",\n    ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::BIGINT AS tf_{t}" for t in terms
    )
    df_defs = ",\n    ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{t}"
        for t in terms
    )
    score = " + ".join(
        f"(CASE WHEN tf_{t} > 0 THEN "
        f"((2 * n_docs - 2 * df_{t} + 1) * 22 * tf_{t} * s_toks)::DOUBLE"
        f" / ((2 * df_{t} + 1) * (10 * tf_{t} * s_toks + 3 * s_toks + 9 * dl * n_docs))::DOUBLE"
        f" ELSE 0.0 END)"
        for t in terms
    )
    matched = " + ".join(
        f"(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)" for t in terms
    )
    tf_cols = ", ".join(f"tf_{t}" for t in terms)
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
pd AS (
  SELECT doc_id, len(toks)::BIGINT AS dl,
    {tf_defs}
  FROM base
),
st AS (
  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS s_toks,
    {df_defs}
  FROM pd
)
SELECT doc_id, dl, {tf_cols}, {score} AS score
FROM pd CROSS JOIN st
WHERE {matched} > 0
ORDER BY score DESC, doc_id
LIMIT {topk}
"""


# =============================================================================
# exact phrase search (positional match, scan-local)
# =============================================================================


def phrase_search(
    docs: DataFrame,
    phrase=("stream", "window"),
    topk: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase retrieval: documents containing the n-token phrase as
    consecutive tokens, with occurrence count and first match position.

    The classic implementation is a positional-postings self-join (term_i
    at pos p joins term_{i+1} at p+1), which shuffles the postings table
    n-1 times. Here the match runs SCAN-LOCAL instead: one narrow JVM
    projection evaluates `filter(sequence(1, dl-n+1), i -> tok[i]=t0 AND
    tok[i+1]=t1 ...)` per document — zero explode, zero shuffle, and the
    only reduce is the final TakeOrderedAndProject. At 10^12 pages that is
    the difference between n-1 corpus-sized shuffles and none; the
    postings-index form only wins when the phrase is rare AND an index
    already exists (see postings_bytes_audit for that index's layout
    economics). Both engines use 1-based element_at/list indexing, so
    positions are cross-engine exact.

    Returns (doc_id, n_matches, first_pos) for the topk documents with
    n_matches > 0, ordered by (n_matches DESC, doc_id); first_pos is the
    1-based token index of the first occurrence.
    """
    n = len(phrase)
    if n < 2:
        raise ValueError("phrase must have at least 2 tokens")
    phrase = _lowered(phrase, "phrase token")
    conds = " AND ".join(
        f"element_at(_toks, i + {j}) = '{t}'" if j else f"element_at(_toks, i) = '{t}'"
        for j, t in enumerate(phrase)
    )
    hits = F.expr(
        f"if(size(_toks) >= {n}, "
        f"filter(sequence(1, size(_toks) - {n - 1}), i -> {conds}), "
        f"array())"
    )
    return (
        docs.select(
            id_col,
            F.expr(f"filter(split(lower({text_col}), ' '), x -> x <> '')").alias(
                "_toks"
            ),
        )
        .select(
            id_col,
            hits.alias("_hits"),
        )
        .select(
            id_col,
            F.expr("cast(size(_hits) as bigint)").alias("n_matches"),
            F.expr("cast(element_at(_hits, 1) as bigint)").alias("first_pos"),
        )
        .where(F.col("n_matches") > 0)
        .orderBy(F.desc("n_matches"), F.asc(id_col))
        .limit(topk)
    )


def phrase_search_oracle_sql(phrase=("stream", "window"), topk: int = 50) -> str:
    """DuckDB replay of phrase_search (same 1-based positional lambda)."""
    phrase = [t.lower() for t in phrase]
    n = len(phrase)
    conds = " AND ".join(
        f"toks[i + {j}] = '{t}'" if j else f"toks[i] = '{t}'"
        for j, t in enumerate(phrase)
    )
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {n}
              THEN list_filter(generate_series(1, len(toks) - {n - 1}), i -> {conds})
              ELSE [] END AS hits
  FROM base
)
SELECT doc_id, len(hits)::BIGINT AS n_matches, hits[1]::BIGINT AS first_pos
FROM m
WHERE len(hits) > 0
ORDER BY n_matches DESC, doc_id
LIMIT {topk}
"""


# =============================================================================
# inverted-index layout economics: block-local delta + varint postings audit
# =============================================================================

POSTINGS_BLOCK = 4096  # docs per posting block (Lucene-style block postings)


def _varint_bytes_sql(v: str) -> str:
    """LEB128 byte count of a non-negative BIGINT, as a portable CASE
    (identical text works in Spark SQL and DuckDB)."""
    # 7 payload bits per byte; 2^63 = 2^(7*9), so 9 bytes cover every BIGINT
    cases = " ".join(f"WHEN {v} < {1 << (7 * n)} THEN {n}" for n in range(1, 9))
    return f"(CASE {cases} ELSE 9 END)"


def postings_bytes_audit(
    docs: DataFrame,
    min_df: int = 8,
    topk: int = 100,
    block: int = POSTINGS_BLOCK,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact byte audit of a positional-free inverted index under
    block-local delta + LEB128-varint encoding — the layout decision a
    web-scale index build has to justify with numbers, computed as exact
    BIGINTs so the audit is hash-gateable.

    Postings for a token are its sorted doc ids. Each ``block`` of the doc
    id space (doc_id // block) opens with the absolute id and continues
    with gaps, exactly the skip-friendly block layout production indexes
    use (and the reason this plan is skew-free: the sort window partitions
    on (token, block), so a billion-document stopword posting never lands
    in ONE window partition — its blocks sort independently). One shuffle
    on (token, block); no collect_list, nothing row-at-a-time.

    Returns per-token (token, df, n_blocks, raw_bytes, varint_bytes,
    ratio) for tokens with df >= min_df, ordered by (df DESC, token),
    limited to topk; raw_bytes is the uncompressed 8-byte-per-id cost.
    """
    from pyspark.sql import Window

    post = (
        docs.select(
            F.explode(
                F.expr(f"filter(split(lower({text_col}), ' '), x -> x <> '')")
            ).alias("token"),
            F.col(id_col).cast("long").alias("did"),
        )
        .distinct()
        .withColumn("blk", F.expr(f"did DIV {block}"))
    )
    w = Window.partitionBy("token", "blk").orderBy("did")
    val = F.expr("coalesce(did - _prev, did)")  # block head stores absolute id
    enc = (
        post.withColumn("_prev", F.lag("did").over(w))
        .withColumn("v", val)
        .withColumn("nb", F.expr(f"cast({_varint_bytes_sql('v')} as bigint)"))
        .withColumn("is_head", F.expr("if(_prev is null, 1, 0)"))
    )
    agg = enc.groupBy("token").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("is_head").cast("long").alias("n_blocks"),
        (F.count("*") * F.lit(8)).cast("long").alias("raw_bytes"),
        F.sum("nb").cast("long").alias("varint_bytes"),
    )
    return (
        agg.where(F.col("df") >= min_df)
        .withColumn(
            "ratio",
            F.round(F.col("varint_bytes").cast("double") / F.col("raw_bytes"), 6),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(topk)
    )


def postings_bytes_oracle_sql(
    min_df: int = 8, topk: int = 100, block: int = POSTINGS_BLOCK
) -> str:
    """DuckDB replay of postings_bytes_audit (same window, same CASE)."""
    vb = _varint_bytes_sql("v")
    return f"""
WITH post AS (
  SELECT DISTINCT t.token, d.doc_id AS did
  FROM documents d,
       LATERAL unnest(list_filter(string_split(lower(d.text), ' '),
                                  x -> x <> '')) AS t(token)
),
enc AS (
  SELECT token, did // {block} AS blk,
         lag(did) OVER (PARTITION BY token, did // {block} ORDER BY did) AS prev,
         did
  FROM post
),
bytes AS (
  SELECT token,
         coalesce(did - prev, did) AS v,
         CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_head
  FROM enc
),
agg AS (
  SELECT token,
         count(*)::BIGINT AS df,
         sum(is_head)::BIGINT AS n_blocks,
         (count(*) * 8)::BIGINT AS raw_bytes,
         sum({vb})::BIGINT AS varint_bytes
  FROM bytes GROUP BY token
)
SELECT token, df, n_blocks, raw_bytes, varint_bytes,
       round(varint_bytes::DOUBLE / raw_bytes::DOUBLE, 6) AS ratio
FROM agg
WHERE df >= {min_df}
ORDER BY df DESC, token
LIMIT {topk}
"""


# =============================================================================
# hybrid retrieval: BM25 (lexical) + ANN (semantic) via reciprocal rank fusion
# =============================================================================


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    terms=("stream", "window", "join"),
    query_id: int = 0,
    k_each: int = 50,
    topk: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid search (Cormack et al. SIGIR'09 reciprocal rank fusion): fuse
    the BM25 lexical ranking with an exact-cosine semantic ranking for the
    embedding of document `query_id` — the retrieval shape RAG pipelines
    ship, where neither ranker alone survives both paraphrase and jargon.

    RRF score = sum over rankers of 1/(rrf_k + rank). Hash-gating floats
    is avoided entirely: each term is floor(1e9/(rrf_k + rank)) — exact
    BIGINT, absent rankings contribute 0 — and both input RANKINGS are
    already cross-engine exact (BM25 scores are bit-identical rationals;
    the ANN side ranks on the 5dp-rounded sequential-fold cosine with id
    tie-breaks, the emb_knn_topk_exact protocol). Each ranker returns
    k_each rows, so the rank windows run over k-sized frames (single
    partition BY CONSTRUCTION, bounded by k — the DLT-tau precedent), and
    the fusion join is k-vs-k: the whole fusion stage is metadata-sized
    regardless of corpus size; the corpus-sized work lives inside the two
    rankers, each already scale-shaped (one scan + TakeOrdered).

    Returns (doc_id, bm25_rank, ann_rank, rrf_ppb) top-`topk` by
    (rrf_ppb DESC, doc_id); ranks are NULL where a ranker missed the doc.
    """
    from pyspark.sql import Window

    from .similarity import knn_topk_exact

    bm = bm25_search(docs, terms=terms, topk=k_each).select("doc_id", "score")
    bm_r = bm.withColumn(
        "r1",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
    ).select("doc_id", "r1")
    ann = knn_topk_exact(emb, query_ids=[query_id], k=k_each).select(
        F.col("neighbor_id").alias("doc_id"), "cosine"
    )
    ann_r = ann.withColumn(
        "r2",
        F.row_number().over(Window.orderBy(F.desc("cosine"), F.asc("doc_id"))),
    ).select("doc_id", "r2")
    fused = bm_r.join(ann_r, "doc_id", "full_outer")
    return (
        fused.selectExpr(
            "doc_id",
            "r1 AS bm25_rank",
            "r2 AS ann_rank",
            f"coalesce(1000000000 DIV ({rrf_k} + r1), 0)"
            f" + coalesce(1000000000 DIV ({rrf_k} + r2), 0) AS rrf_ppb",
        )
        .orderBy(F.desc("rrf_ppb"), F.asc("doc_id"))
        .limit(topk)
    )


def _bitwidth_sql(v: str) -> str:
    """Bits needed for a non-negative BIGINT (0 -> 0 bits), as a CASE ladder
    over powers of two (identical text works in Spark SQL and DuckDB, which
    share no leading-zero-count function). Exact over the whole
    non-negative BIGINT range: every width 1..62 has its rung, and
    anything at or above 2^62 needs 63."""
    cases = " ".join(f"WHEN {v} < {1 << b} THEN {b}" for b in range(1, 63))
    return f"(CASE WHEN {v} = 0 THEN 0 {cases} ELSE 63 END)"


def postings_bitpack_audit(
    docs: DataFrame,
    min_df: int = 8,
    topk: int = 100,
    block: int = POSTINGS_BLOCK,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The frame-of-reference / PForDelta side of the layout decision that
    postings_bytes_audit prices for varint: within each posting block,
    pack every delta at the BLOCK's maximum bit width (one width byte per
    block + ceil(n_in_block * width / 8) payload — the word-aligned
    simplification of Lucene's FOR). Bit-packing wins over varint when
    deltas are uniform (dense postings), loses when one outlier delta
    inflates the whole block's width — the audit shows which regime each
    token is in, in exact BIGINTs.

    Same skew-free (token, block) window as the varint audit; block heads
    store the absolute id OUTSIDE the packed payload (8 bytes, like the
    skip table entry it doubles as). Returns per-token (token, df,
    n_blocks, varint_bytes, bitpack_bytes, ratio) for df >= min_df,
    ordered (df DESC, token), top-k."""
    from pyspark.sql import Window

    post = (
        docs.select(
            F.explode(
                F.expr(f"filter(split(lower({text_col}), ' '), x -> x <> '')")
            ).alias("token"),
            F.col(id_col).cast("long").alias("did"),
        )
        .distinct()
        .withColumn("blk", F.expr(f"did DIV {block}"))
    )
    w = Window.partitionBy("token", "blk").orderBy("did")
    enc = (
        post.withColumn("_prev", F.lag("did").over(w))
        .withColumn("v", F.expr("coalesce(did - _prev, did)"))
        .withColumn("is_head", F.expr("if(_prev is null, 1, 0)"))
        .withColumn("nb", F.expr(f"cast({_varint_bytes_sql('v')} as bigint)"))
        .withColumn(
            "bw", F.expr(f"cast(if(_prev is null, 0, {_bitwidth_sql('v')}) as bigint)")
        )
    )
    per_block = enc.groupBy("token", "blk").agg(
        F.count("*").cast("long").alias("n_in_block"),
        F.sum("nb").cast("long").alias("varint_bytes"),
        F.max("bw").cast("long").alias("block_width"),
    )
    # block cost: 8-byte absolute head + 1 width byte + packed deltas
    blk_cost = per_block.withColumn(
        "bitpack_bytes",
        F.expr("8 + 1 + ((n_in_block - 1) * block_width + 7) DIV 8"),
    )
    agg = blk_cost.groupBy("token").agg(
        F.sum("n_in_block").cast("long").alias("df"),
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("varint_bytes").cast("long").alias("varint_bytes"),
        F.sum("bitpack_bytes").cast("long").alias("bitpack_bytes"),
    )
    return (
        agg.where(F.col("df") >= min_df)
        .withColumn(
            "ratio",
            F.round(
                F.col("bitpack_bytes").cast("double") / F.col("varint_bytes"), 6
            ),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(topk)
    )


def kwic_snippets(
    docs: DataFrame,
    term: str = "checkpoint",
    context: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword-in-context snippet extraction — the result-rendering step
    after retrieval: for every document containing `term`, the 1-based
    token position of its FIRST occurrence and the +-context-token window
    around it. One narrow JVM projection over the staged token array
    (array_position + slice + array_join), zero shuffle before the output
    sort; at serving scale this runs over the already-retrieved top-k
    only. Returns (doc_id, pos, snippet) ordered by doc_id."""
    (term,) = _lowered((term,), "term")
    return (
        docs.select(
            F.col(id_col),
            F.expr(f"filter(split(lower({text_col}), ' '), x -> x <> '')").alias(
                "_toks"
            ),
        )
        .select(
            id_col,
            F.expr(f"cast(array_position(_toks, '{term}') as bigint)").alias("pos"),
            F.col("_toks"),
        )
        .where(F.col("pos") > 0)
        .select(
            id_col,
            "pos",
            F.expr(
                f"array_join(slice(_toks, cast(greatest(pos - {context}, 1) as int), "
                f"cast(pos + {context} - greatest(pos - {context}, 1) + 1 as int)), ' ')"
            ).alias("snippet"),
        )
        .orderBy(id_col)
    )
