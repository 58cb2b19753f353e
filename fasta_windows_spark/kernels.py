"""Pure-numpy statistics kernels with fasta_windows reference parity.

These are the vectorized re-expressions of the reference's Rust kernels
(tolkit/fasta_windows). Each function documents the reference file:line it
re-implements. No Spark imports here — this module is unit-testable standalone
and is wrapped by the Arrow-batched UDFs in ``functions/udfs.py``.

Semantics notes (see SURVEY.md §7 "known-hard items"):
- k-mer counting uses a dense 4^k array indexed by 2-bit codes
  (A=0, C=1, G=2, T=3 — lexicographic order, matching the reference's
  key-sorted map serialization, kmer_maps.rs:30-36 / kmeru8.rs:60-62).
  Grams containing ANY non-ACGT byte (after case folding) are skipped.
  The reference skips only grams containing 'N' (kmeru8.rs:47-49) and lets
  other exotic bytes create dynamic map keys (kmeru8.rs:50-51) which
  misalign its own headers; on ACGTN-alphabet input the two semantics
  coincide exactly. Dense semantics are the documented behavior here.
- All entropies use log2 (kmeru8.rs:113-123 comment says natural log but the
  code is log2; code is ground truth).
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "NUC_CODE",
    "FOLD_UPPER",
    "SIX_BIN",
    "SIX_BIN_MASKED",
    "byte_hist",
    "seq_stats_from_hist",
    "entropy256_from_hist",
    "entropy6",
    "kmer_vector",
    "shannon_diversity",
    "kt0_bits_per_base",
    "ctw_bits_per_base",
    "reverse_complement",
    "window_bounds",
    "page_window_stats",
    "batch_window_stats_concat_sliding",
    "KMER_KS",
    "kmer_names",
]

KMER_KS = (2, 3, 4)

# --- lookup tables (analogs of entropy.rs:12-38 NUC_LUT / MASKED_LUT) --------

# 2-bit nucleotide code; 255 = invalid for k-mer purposes (incl. N).
# A/a=0 C/c=1 G/g=2 T/t=3 — code order == lexicographic ACGT order, so a
# rolling base-4 index enumerates k-mers in the reference's key-sorted order.
NUC_CODE = np.full(256, 255, dtype=np.uint8)
for _i, _b in enumerate(b"ACGT"):
    NUC_CODE[_b] = _i
    NUC_CODE[_b + 32] = _i  # lowercase

# Case folding of acgtn -> ACGTN only; all other bytes unchanged
# (seq_statsu8.rs:92-100: entropy histogram folds exactly these five).
FOLD_UPPER = np.arange(256, dtype=np.uint8)
for _b in b"acgtn":
    FOLD_UPPER[_b] = _b - 32

# 6-bin classes A=0 C=1 G=2 T=3 N=4 other=5, lowercase acgtn folded
# (entropy.rs:12-26 NUC_LUT).
SIX_BIN = np.full(256, 5, dtype=np.uint8)
for _i, _b in enumerate(b"ACGTN"):
    SIX_BIN[_b] = _i
    SIX_BIN[_b + 32] = _i

# Masked 6-bin: ONLY uppercase ACGTN; everything else 255=skip
# (entropy.rs:29-38 MASKED_LUT).
SIX_BIN_MASKED = np.full(256, 255, dtype=np.uint8)
for _i, _b in enumerate(b"ACGTN"):
    SIX_BIN_MASKED[_b] = _i

_LN2 = math.log(2.0)
_LGAMMA_HALF = math.lgamma(0.5)
_LGAMMA_TWO = math.lgamma(2.0)

# lowercase bases counted as "masked" when masked=False (seq_statsu8.rs:66-80):
# a c g t m r w s y k v h b d n
_MASKED_BYTES = np.frombuffer(b"acgtmrwsykvhbdn", dtype=np.uint8)


def _as_bytes(seq) -> np.ndarray:
    """Coerce str/bytes/ndarray to a uint8 numpy view."""
    if isinstance(seq, np.ndarray):
        return seq.astype(np.uint8, copy=False)
    if isinstance(seq, str):
        seq = seq.encode("utf-8")
    return np.frombuffer(seq, dtype=np.uint8)


# --- A1: byte histogram (seq_statsu8.rs:23-30) --------------------------------


def byte_hist(seq) -> np.ndarray:
    """Raw case-sensitive 256-bin byte histogram; the associative merge unit."""
    buf = _as_bytes(seq)
    return np.bincount(buf, minlength=256).astype(np.int64)


# --- A2-A5: composition stats from the histogram (seq_statsu8.rs:34-122) -----


def seq_stats_from_hist(hist: np.ndarray, masked: bool) -> dict:
    """Scalar composition stats from a byte histogram.

    Mirrors seq_statsu8.rs:50-85 (masked branch counts only uppercase;
    unmasked folds case and tallies lowercase IUPAC bases as masked_counts)
    and the struct fields at seq_statsu8.rs:107-121. Proportions divide by the
    FULL window length (all bytes), not the ACGT total.
    """
    h = np.asarray(hist, dtype=np.int64)
    length = int(h.sum())

    def c(b: bytes) -> int:
        return int(h[b[0]])

    if masked:
        g, cc, a, t, n = c(b"G"), c(b"C"), c(b"A"), c(b"T"), c(b"N")
        masked_counts = 0
        w = c(b"W")
        s = c(b"S")
    else:
        g = c(b"G") + c(b"g")
        cc = c(b"C") + c(b"c")
        a = c(b"A") + c(b"a")
        t = c(b"T") + c(b"t")
        n = c(b"N") + c(b"n")
        masked_counts = int(h[_MASKED_BYTES].sum())
        w = c(b"W") + c(b"w")
        s = c(b"S") + c(b"s")

    def _f32div(num: int, den: int) -> float:
        # reference does f32 division: 0/0 -> NaN (seq_statsu8.rs:108-111)
        if den == 0:
            return float("nan")
        return float(np.float32(num) / np.float32(den))

    gc_prop = _f32div(g + cc + s, g + cc + s + a + t + w)
    gc_skew = _f32div(g - cc, g + cc)
    at_skew = _f32div(a - t, a + t)
    flen = float(np.float32(length)) if length else float("nan")

    def _prop(x: int) -> float:
        if length == 0:
            return float("nan")
        return float(np.float32(x) / np.float32(flen))

    return {
        "len": length,
        "a": a,
        "c": cc,
        "g": g,
        "t": t,
        "n": n,
        "w": w,
        "s": s,
        "masked_counts": masked_counts,
        "gc_proportion": gc_prop,
        "gc_skew": gc_skew,
        "at_skew": at_skew,
        "prop_g": _prop(g),
        "prop_c": _prop(cc),
        "prop_a": _prop(a),
        "prop_t": _prop(t),
        "prop_n": _prop(n),
        "prop_masked": _prop(masked_counts),
    }


# --- A6: 256-bin Shannon entropy (seq_statsu8.rs:90-106) ----------------------


def entropy256_from_hist(hist: np.ndarray) -> float:
    """Byte-level Shannon entropy: acgtn folded to upper, every other byte a
    distinct bin; denominator = full window length. Ignores masked flag
    (seq_statsu8.rs:90 counts unconditionally)."""
    h = np.asarray(hist, dtype=np.int64)
    folded = np.bincount(FOLD_UPPER, weights=h, minlength=256)
    n = folded.sum()
    if n <= 0:
        return 0.0
    p = folded[folded > 0] / n
    return float(-(p * np.log2(p)).sum()) + 0.0


def entropy256(seq) -> float:
    return entropy256_from_hist(byte_hist(seq))


# --- A7: 6-bin entropy, entropy mode (entropy.rs:49-74) -----------------------


def entropy6(seq, masked: bool = False) -> float:
    """6-bin (ACGTN+other) Shannon entropy. masked=True counts only uppercase
    ACGTN and the denominator is their total (entropy.rs:51-57)."""
    buf = _as_bytes(seq)
    if masked:
        cls = SIX_BIN_MASKED[buf]
        cls = cls[cls != 255]
        counts = np.bincount(cls, minlength=6)
    else:
        counts = np.bincount(SIX_BIN[buf], minlength=6)
    total = counts.sum()
    if total == 0:
        return 0.0
    p = counts[counts > 0] / total
    return float(-(p * np.log2(p)).sum()) + 0.0


# --- A8: k-mer count vector (kmeru8.rs:32-62, kmer_maps.rs:12-40) -------------


def kmer_vector(seq, k: int) -> np.ndarray:
    """Dense 4^k count vector of case-folded k-grams, stride 1.

    Index = base-4 rolling code (A=0..T=3), enumerating k-mers in
    lexicographic order == the reference's key-sorted map serialization.
    Grams containing any non-ACGT byte are skipped (reference skips 'N',
    kmeru8.rs:47-49; see module docstring for the dense-domain divergence).
    """
    buf = _as_bytes(seq)
    out = np.zeros(4**k, dtype=np.int64)
    if len(buf) < k:
        return out
    code = NUC_CODE[buf]
    valid = code != 255
    code4 = code.astype(np.int64)
    idx = code4[: len(buf) - k + 1].copy()
    ok = valid[: len(buf) - k + 1].copy()
    for j in range(1, k):
        idx = idx * 4 + code4[j : len(buf) - k + 1 + j]
        ok &= valid[j : len(buf) - k + 1 + j]
    return np.bincount(idx[ok], minlength=4**k).astype(np.int64)


def mono_vector(hist: np.ndarray) -> np.ndarray:
    """Case-folded A,C,G,T,N counts in the reference's mononuc output order
    (seq_statsu8.rs:113: [a, c, g, t, n] — also the TSV column order A C G T N
    at fw.rs:310)."""
    h = np.asarray(hist, dtype=np.int64)
    return np.array(
        [
            h[ord("A")] + h[ord("a")],
            h[ord("C")] + h[ord("c")],
            h[ord("G")] + h[ord("g")],
            h[ord("T")] + h[ord("t")],
            h[ord("N")] + h[ord("n")],
        ],
        dtype=np.int64,
    )


def kmer_names(k: int) -> list[str]:
    """All 4^k k-mers in lexicographic order (kmer_maps.rs:70-86 analog)."""
    import itertools

    return ["".join(p) for p in itertools.product("ACGT", repeat=k)]


# --- A9: Shannon diversity of a count vector (kmeru8.rs:113-123) --------------


def shannon_diversity(vec) -> float:
    v = np.asarray(vec, dtype=np.int64)
    total = v.sum()
    if total <= 0:
        return 0.0
    p = v[v > 0] / total
    return float(-(p * np.log2(p)).sum()) + 0.0


# --- A11: KT0 zero-order coder (kmeru8.rs:127-159) ----------------------------


def kt0_bits_per_base(seq) -> float:
    """Sequential KT0 code length in bits/base over ACGT symbols (skips the
    rest). Computed via the closed form: the sequential product
    Π (c_s + 1/2)/(N + 2) telescopes to the KT block probability
    Π_s Γ(c_s+½)/Γ(½) · Γ(m/2)/Γ(N+m/2), so only the final counts matter."""
    buf = _as_bytes(seq)
    code = NUC_CODE[buf]
    counts = np.bincount(code[code != 255], minlength=4)
    return kt0_from_counts(counts)


def kt0_from_counts(counts) -> float:
    counts = np.asarray(counts, dtype=np.int64)
    n_eff = int(counts.sum())
    if n_eff == 0:
        return 0.0
    log_p = (
        sum(math.lgamma(c + 0.5) for c in counts)
        - 4 * _LGAMMA_HALF
        + _LGAMMA_TWO
        - math.lgamma(n_eff + 2.0)
    ) / _LN2
    return -log_p / n_eff


# --- A12: Context-Tree Weighting, depth d (kmeru8.rs:170-319) -----------------


def ctw_bits_per_base(seq, max_depth: int = 6) -> float:
    """4-ary CTW with KT estimators, mixture weight beta=0.5, leaf=pure KT.
    Non-ACGT symbols are skipped AND flush the context (kmeru8.rs:296-299).
    Returns bits per effective base; depth 0 == KT0 (kmeru8.rs:171-173).

    Sequential by construction: the scalar reference for
    :func:`ctw_bits_per_base_many`, which ``window_stats(with_ctw=True)``
    runs once per emitted slice of windows (the reference's -c,
    main.rs:60-65, and entropy mode)."""
    if max_depth == 0:
        return kt0_bits_per_base(seq)

    buf = _as_bytes(seq)
    code = NUC_CODE[buf]

    beta = 0.5
    # node storage: dict keyed by (depth, ctx_code) -> [counts4, total, log_p_kt, log_w]
    # ctx_code = base-4 int of the most-recent-first context of length `depth`.
    nodes: dict = {}

    def node(depth: int, ctx: int):
        key = (depth, ctx)
        nd = nodes.get(key)
        if nd is None:
            nd = [np.zeros(4, dtype=np.int64), 0, 0.0, 0.0]
            nodes[key] = nd
        return nd

    def log2_sum_weighted(a_log2: float, b_log2: float) -> float:
        # log2(beta*2^a + (1-beta)*2^b) — kmeru8.rs:195-212
        if a_log2 == float("-inf") and b_log2 == float("-inf"):
            return float("-inf")
        m = max(a_log2, b_log2)
        ta = 0.0 if (a_log2 - m) < -50.0 else beta * 2.0 ** (a_log2 - m)
        tb = 0.0 if (b_log2 - m) < -50.0 else (1.0 - beta) * 2.0 ** (b_log2 - m)
        return m + math.log2(ta + tb)

    # children log_w sums are tracked per node to avoid scanning children:
    # child_logw_sum[key] = sum of log_w over instantiated children.
    child_sum: dict = {}

    total_delta = 0.0
    n_eff = 0
    ctx: list[int] = []  # most-recent-first, len <= max_depth

    root_key = (0, 0)

    for sym in code:
        if sym == 255:
            ctx.clear()
            continue
        sym = int(sym)
        d = len(ctx)
        # path of nodes root..depth d; ctx_code built most-recent-first
        path = []
        cc = 0
        path.append((0, 0))
        for i in range(d):
            cc = cc * 4 + ctx[i]
            path.append((i + 1, cc))

        before = nodes.get(root_key, (None, None, None, 0.0))[3]

        # bottom-up update: leaf (deepest) first, then mix upward
        prev_logw = {}  # child key -> old log_w (for child_sum delta)
        for lvl in range(len(path) - 1, -1, -1):
            key = path[lvl]
            nd = node(*key)
            old_logw = nd[3]
            # KT update (kmeru8.rs:253-257)
            c_s = float(nd[0][sym])
            n_tot = float(nd[1])
            nd[2] += math.log2((c_s + 0.5) / (n_tot + 2.0))
            nd[0][sym] += 1
            nd[1] += 1
            if lvl == len(path) - 1:
                # leaf of the update path: no mixture (kmeru8.rs:283)
                nd[3] = nd[2]
            else:
                child_key = path[lvl + 1]
                cs = child_sum.get(key, 0.0) + (
                    nodes[child_key][3] - prev_logw[child_key]
                )
                child_sum[key] = cs
                nd[3] = log2_sum_weighted(nd[2], cs)
            prev_logw[key] = old_logw

        after = nodes[root_key][3]
        total_delta += after - before
        n_eff += 1

        if len(ctx) == max_depth:
            ctx.pop()
        ctx.insert(0, sym)

    if n_eff == 0:
        return 0.0
    return -total_delta / n_eff


def ctw_bits_per_base_many(
    wins: list, max_depth: int = 6, group: int = 1024
) -> np.ndarray:
    """Window-VECTORIZED CTW: all windows in a group advance through their
    symbols in lockstep; every per-node update at a given tree level is one
    numpy operation across the group. Identical output to
    :func:`ctw_bits_per_base` (tested to 1e-10), ~45x faster per core
    (435 vs ~10 w/s on 1000-char windows; group=1024 amortizes numpy
    per-op overhead ~2.2x better than 256 and still scales flat to 8
    concurrent workers on this host).

    Dense node addressing: level l (0..D) base B[l] = (4^l - 1)/3, node id =
    B[l] + ctx_code where ctx_code packs the most-recent-first context.
    State per (window, node): counts[4], total, log_p_kt, log_w, child log_w
    sum — the same quantities as the reference's Node (kmeru8.rs:214-222).
    """
    if max_depth == 0:
        return np.array([kt0_bits_per_base(w) for w in wins])

    out = np.zeros(len(wins))
    for g0 in range(0, len(wins), group):
        chunk = wins[g0 : g0 + group]
        out[g0 : g0 + len(chunk)] = _ctw_group(chunk, max_depth)
    return out


def _ctw_group(wins: list, D: int) -> np.ndarray:
    G = len(wins)
    codes_list = [NUC_CODE[_as_bytes(w)] for w in wins]
    lens = np.array([len(c) for c in codes_list], dtype=np.int64)
    L = int(lens.max()) if G else 0
    if L == 0:
        return np.zeros(G)
    # padded symbol matrix; 255 = invalid (skip + context flush)
    sym_mat = np.full((G, L), 255, dtype=np.uint8)
    for i, c in enumerate(codes_list):
        sym_mat[i, : len(c)] = c

    n_nodes = (4 ** (D + 1) - 1) // 3
    base = np.array([(4**l - 1) // 3 for l in range(D + 1)], dtype=np.int64)
    pow4 = 4 ** np.arange(D)  # pow4[i] multiplies ctx_hist[:, i] at level l=i+1

    # count state in the narrowest dtype that can't overflow: halves the
    # footprint of the biggest array (G, n_nodes, 4), whose scattered
    # gathers/updates dominate cache traffic (values are exact integers;
    # KT math converts to float64 at use)
    cdtype = np.uint16 if L < 65000 else np.int64
    counts = np.zeros((G, n_nodes, 4), dtype=cdtype)
    total = np.zeros((G, n_nodes), dtype=cdtype)
    lp = np.zeros((G, n_nodes))  # log2 P_KT
    lw = np.zeros((G, n_nodes))  # log2 weighted
    csum = np.zeros((G, n_nodes))  # sum of instantiated children's log_w

    ctx_hist = np.zeros((G, D), dtype=np.int64)  # most-recent-first
    ctx_len = np.zeros(G, dtype=np.int64)
    total_delta = np.zeros(G)
    n_eff = np.zeros(G, dtype=np.int64)
    rows = np.arange(G)

    ln2 = np.log(2.0)

    for t in range(L):
        sym = sym_mat[:, t].astype(np.int64)
        valid = (sym != 255) & (t < lens)
        # flush context on invalid symbols that are inside the window
        flush = (~valid) & (t < lens)
        ctx_len[flush] = 0
        if not valid.any():
            continue
        av = np.flatnonzero(valid)
        s = sym[av]
        cl = ctx_len[av]

        before = lw[av, 0]
        # node ids along the path for the active windows, level 0..D
        # code at level l = sum_{i<l} ctx_hist[:, i] * 4^(l-1-i)
        node_ids = np.zeros((len(av), D + 1), dtype=np.int64)
        code = np.zeros(len(av), dtype=np.int64)
        for l in range(1, D + 1):
            code = code * 4 + ctx_hist[av, l - 1]
            node_ids[:, l] = base[l] + code

        child_new = None  # per-window new log_w of the level-(l+1) node
        child_old = None
        for l in range(D, -1, -1):
            on = cl >= l  # windows whose path includes level l
            if not on.any():
                child_new = child_old = None
                continue
            w_idx = av[on]
            nid = node_ids[on, l]
            ss = s[on]
            # KT update (kmeru8.rs:253-257)
            c_old = counts[w_idx, nid, ss].astype(np.float64)
            n_old = total[w_idx, nid].astype(np.float64)
            lp[w_idx, nid] += np.log((c_old + 0.5) / (n_old + 2.0)) / ln2
            counts[w_idx, nid, ss] = counts[w_idx, nid, ss] + 1
            total[w_idx, nid] = total[w_idx, nid] + 1

            is_leaf = cl[on] == l  # path-leaf: no mixture (kmeru8.rs:283)
            new_lw = np.empty(len(w_idx))
            new_lw[is_leaf] = lp[w_idx[is_leaf], nid[is_leaf]]
            internal = ~is_leaf
            if internal.any():
                wi = w_idx[internal]
                ni = nid[internal]
                # child arrays from level l+1 are aligned with `internal`:
                # windows internal at level l (cl > l) are EXACTLY those
                # active at level l+1 (cl >= l+1), in the same (av) order.
                csum[wi, ni] += child_new - child_old
                a = lp[wi, ni]
                b = csum[wi, ni]
                m = np.maximum(a, b)
                ta = np.where(a - m < -50.0, 0.0, 0.5 * np.exp2(a - m))
                tb = np.where(b - m < -50.0, 0.0, 0.5 * np.exp2(b - m))
                new_lw[internal] = m + np.log2(ta + tb)
            old_lw_here = lw[w_idx, nid].copy()
            lw[w_idx, nid] = new_lw
            # pass to the parent level (whose internal set == this A_l)
            child_new = new_lw
            child_old = old_lw_here

        total_delta[av] += lw[av, 0] - before
        n_eff[av] += 1

        # shift context (most-recent-first), cap at D
        ctx_hist[av, 1:] = ctx_hist[av, :-1]
        ctx_hist[av, 0] = s
        ctx_len[av] = np.minimum(cl + 1, D)

    with np.errstate(divide="ignore", invalid="ignore"):
        res = np.where(n_eff > 0, -total_delta / np.maximum(n_eff, 1), 0.0)
    return res


# --- A13: reverse complement (kmeru8.rs:321-344) ------------------------------

_REVCOMP = np.full(256, ord("N"), dtype=np.uint8)
for _a, _b in zip(b"ACGTN", b"TGCAN"):
    _REVCOMP[_a] = _b


def reverse_complement(seq) -> bytes:
    buf = _as_bytes(seq)
    return _REVCOMP[buf][::-1].tobytes()


# --- P1/P2: positional windowing (fw.rs:83, fw.rs:76-79, fw.rs:132-144) -------


def window_bounds(length: int, window: int, step: int | None = None):
    """(start, end) pairs of positional windows over a sequence of `length`.

    Tumbling (step None or == window): non-overlapping chunks, last one short
    — exactly `chunks(window_size)` (fw.rs:83). A zero-length sequence yields
    no windows. Sliding (step < window): starts at 0, step, 2*step, ... while
    start < length; end clamped to length (the -w/-s generalization,
    SURVEY.md §2.7)."""
    if length <= 0:
        return []
    if step is None:
        step = window
    out = []
    start = 0
    while start < length:
        out.append((start, min(start + window, length)))
        start += step
    return out


# --- the fused multi-page multi-window kernel (mapInArrow workhorse) ---------


def _kgram_codes(buf: np.ndarray, ks=KMER_KS) -> dict:
    """Per-k gram index arrays over a concatenated byte buffer: {k: (idx, ok)}
    with idx[t] = 2-bit-packed code of buf[t:t+k] and ok[t] = all-ACGT.
    Single rolling pass: the max-k code is built once with shifts; smaller
    k indices are its high bits (k2(i) = k4(i) >> 4, k3(i) = k4(i) >> 2),
    so each extra k costs one shift, not a fresh roll. Phase/window-agnostic
    (window membership is applied by the caller), so sliding decompositions
    compute this ONCE and reuse it across phases. ``ks=()`` -> {} (a
    counts-only caller needs no grams)."""
    if not ks:
        return {}
    code = NUC_CODE[buf]
    valid = code != 255
    c32 = code.astype(np.int32)
    c32[~valid] = 0  # keep every 2-bit slot clean: derived k<kmax indices
    # are bit-shifts of the shared roll, so slot overflow would corrupt them
    n = len(buf)
    kmax = max(ks)
    m_max = n - kmax + 1
    if m_max > 0:
        idx_max = c32[:m_max] << (2 * (kmax - 1))
        ok_max = valid[:m_max].copy()
        for j in range(1, kmax):
            idx_max |= c32[j : m_max + j] << (2 * (kmax - 1 - j))
            ok_max &= valid[j : m_max + j]
    else:
        # buffer shorter than kmax: no shared roll; smaller k fall through
        # to the scalar tail loop below (head == 0)
        idx_max = np.zeros(0, dtype=np.int32)
        ok_max = np.zeros(0, dtype=bool)
    out = {}
    for k in sorted(ks):
        m = n - k + 1
        if m <= 0:
            out[k] = (np.zeros(0, dtype=np.int32), np.zeros(0, dtype=bool))
            continue
        if k == kmax:
            out[k] = (idx_max, ok_max)
            continue
        # head = high bits of the shared roll; tail (kmax-k positions at
        # the buffer end) rolled scalar so window-final grams survive
        idx = np.empty(m, dtype=np.int32)
        head = max(m_max, 0)
        idx[:head] = idx_max[:head] >> (2 * (kmax - k))
        for t in range(head, m):
            v = 0
            for j in range(k):
                v = (v << 2) | int(c32[t + j])
            idx[t] = v
        # validity needs only k bytes (ok_max demands kmax): fresh AND
        ok = valid[:m].copy()
        for j in range(1, k):
            ok &= valid[j : m + j]
        out[k] = (idx, ok)
    return out


def _concat_phase(buf, lengths, window, offset, period, ks, kcodes=None):
    """Windows of length `window` starting at offset + j*period within each
    doc of a PRE-CONCATENATED byte buffer with per-document lengths (the
    Arrow string column layout: data buffer + offsets). period >= window,
    so windows in a phase never overlap; bytes in the inter-window gaps and
    before the offset go to a trash bin. offset=0, period=window is plain
    tumbling — exactly `chunks(window_size)` (fw.rs:83).

    ALL windows' byte histograms and k-mer vectors come from a handful of
    global ``np.bincount`` calls over a per-byte window id — zero per-row
    Python; the columnar analog of the reference's rayon record x k
    parallelism (fw.rs:67, kmeru8.rs:35). `kcodes` = precomputed
    _kgram_codes(buf, ks) — phase-invariant, so the sliding entry point
    computes it once for all K phases. `ks` is any subset of KMER_KS,
    ``()`` included (byte histograms only).

    Returns (doc_idx, starts, ends, hists[nwin,256], kvecs{k: [nwin,4^k]}
    for k in ks)."""
    buf = np.asarray(buf, dtype=np.uint8)
    lengths = np.asarray(lengths, dtype=np.int64)
    n_docs = len(lengths)
    eff = lengths - offset
    nwins = np.where(eff > 0, (eff + period - 1) // period, 0)
    total_wins = int(nwins.sum())
    win_base = (
        np.concatenate([[0], np.cumsum(nwins)[:-1]]) if n_docs else np.array([], dtype=np.int64)
    )
    doc_idx = np.repeat(np.arange(n_docs), nwins)
    local_win = np.arange(total_wins, dtype=np.int64) - np.repeat(win_base, nwins)
    starts = offset + local_win * period
    ends = np.minimum(starts + window, np.repeat(lengths, nwins))

    if total_wins == 0:
        return (
            doc_idx,
            starts,
            ends,
            np.zeros((0, 256), dtype=np.int64),
            {k: np.zeros((0, 4**k), dtype=np.int64) for k in ks},
        )

    # window ids and bincount keys are int32 throughout (one Arrow batch is
    # far below 2^31 positions/windows)
    assert (total_wins + 1) * 257 < 2**31, "Arrow batch too large for int32 bins"
    doc_starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    if offset == 0 and period == window:
        # tumbling: every byte belongs to a window, so no gap mask and no
        # trash bin (the masked form runs ~1.3x slower on a 32 KiB chunk
        # of four 8 KiB pages at W=1000)
        in_win = None
        local_pos = np.arange(len(buf), dtype=np.int32) - np.repeat(
            doc_starts.astype(np.int32), lengths
        )
        win_of_pos = np.repeat(win_base.astype(np.int32), lengths) + local_pos // np.int32(
            window
        )
        hists = np.bincount(
            win_of_pos * np.int32(256) + buf, minlength=total_wins * 256
        ).reshape(total_wins, 256)
    else:
        local_pos = np.arange(len(buf), dtype=np.int64) - np.repeat(doc_starts, lengths)
        q = local_pos - offset
        in_win = (q >= 0) & (q % period < window)
        win_of_pos = np.where(
            in_win, np.repeat(win_base, lengths) + np.maximum(q, 0) // period, -1
        ).astype(np.int32)
        trash = np.int32(total_wins)
        hkey = np.where(
            in_win, win_of_pos * np.int32(256) + buf, trash * np.int32(256)
        )
        hists = np.bincount(hkey, minlength=(total_wins + 1) * 256)[
            : total_wins * 256
        ].reshape(total_wins, 256)

    # k-mer vectors: a gram counts iff all its bytes are ACGT AND its first
    # and last byte share a window (window ids are globally unique per doc,
    # so doc-crossing grams fail the same test); rejected grams go to one
    # trash bin — a single where-pass instead of two boolean gathers
    kvecs = {}
    if kcodes is None:
        kcodes = _kgram_codes(buf, ks)
    for k, (idx, ok) in kcodes.items():
        m = len(idx)
        if m == 0:
            kvecs[k] = np.zeros((total_wins, 4**k), dtype=np.int64)
            continue
        w0 = win_of_pos[:m]
        okw = ok & (w0 == win_of_pos[k - 1 : m + k - 1])
        if in_win is not None:
            okw &= w0 >= 0
        nbins = total_wins * (4**k)
        combined = np.where(okw, w0 * np.int32(4**k) + idx[:m], np.int32(nbins))
        kvecs[k] = np.bincount(combined, minlength=nbins + 1)[:nbins].reshape(
            total_wins, 4**k
        )

    return doc_idx, starts, ends, hists, kvecs


def batch_window_stats_concat_sliding(buf, lengths, window, step, ks=KMER_KS):
    """The production window kernel: every window of every doc in a
    concatenated buffer (see :func:`_concat_phase` for the layout and the
    return shape), in window_bounds order (doc, start).

    Tumbling (step None or == window) is one :func:`_concat_phase` pass.
    Sliding windows decompose into K = ceil(window/step) phase-shifted
    non-overlapping passes (phase g covers starts g*step + j*K*step),
    merged and re-sorted. Total cost is K kernel passes — proportional to
    the output volume, i.e. the inherent cost of overlap. Handles
    step > window (gapped sampling windows) too. Only the k-mer orders in
    `ks` are built; ``ks=()`` leaves the byte histograms alone."""
    if step is None or step == window:
        return _concat_phase(buf, lengths, window, 0, window, ks)
    K = max(1, -(-window // step))  # ceil
    period = K * step
    kcodes = _kgram_codes(np.asarray(buf, dtype=np.uint8), ks)  # once, not per phase
    parts = [
        _concat_phase(buf, lengths, window, g * step, period, ks, kcodes)
        for g in range(K)
    ]
    doc_idx = np.concatenate([p[0] for p in parts])
    starts = np.concatenate([p[1] for p in parts])
    ends = np.concatenate([p[2] for p in parts])
    order = np.lexsort((starts, doc_idx))
    hists = np.vstack([p[3] for p in parts])[order]
    kvecs = {k: np.vstack([p[4][k] for p in parts])[order] for k in ks}
    return doc_idx[order], starts[order], ends[order], hists, kvecs


_FOLD_PAIRS = [(ord(c), ord(c) - 32) for c in "acgtn"]  # lower -> upper

# v * log2(v) for integer counts up to 65536 (windows up to 64 KiB): the
# entropy reducer gathers from it instead of taking per-cell logs
_VLOGV = np.zeros(65537)
_VLOGV[1:] = np.arange(1, 65537, dtype=np.float64) * np.log2(
    np.arange(1, 65537, dtype=np.float64)
)


def _entropy_rows(counts: np.ndarray) -> np.ndarray:
    """Row-wise Shannon entropy (log2) of an integer count matrix; zero rows
    -> 0.0. One formula, H = log2(T) - (sum v*log2 v)/T: v*log2(v) is one
    gather from _VLOGV when every count fits the table and is computed
    otherwise; one row-sum, no per-cell division."""
    m = np.asarray(counts)
    if m.max(initial=0) < len(_VLOGV):
        vlogv = _VLOGV[m]
    else:
        v = m.astype(np.float64)
        vlogv = v * np.log2(v, out=np.zeros_like(v), where=v > 0)
    totals = np.maximum(m.sum(axis=1), 1).astype(np.float64)
    # entropy >= 0; the formula leaves ~1e-16 negative residue on
    # single-symbol windows, which would print as "-0.000"
    return np.maximum(np.log2(totals) - vlogv.sum(axis=1) / totals, 0.0)


# The per-window statistics, in window_stats' column order: the struct of
# seq_statsu8.rs:107-121 plus the entropy-mode and k-mer scalars. Counts
# are histogram column sums; everything else is a float.
STATS_TABLE_KEYS = (
    "win_len", "cnt_a", "cnt_c", "cnt_g", "cnt_t", "cnt_n",
    "gc_prop", "gc_skew", "at_skew", "shannon_entropy", "entropy6",
    "prop_g", "prop_c", "prop_a", "prop_t", "prop_n", "prop_masked",
    "cpg_prop", "dinuc_shannon", "trinuc_shannon", "tetranuc_shannon", "kt0",
)
COUNT_KEYS = frozenset({"win_len", "cnt_a", "cnt_c", "cnt_g", "cnt_t", "cnt_n"})
# the count each proportion divides by the window length
_PROP_OF = {
    "prop_g": "cnt_g", "prop_c": "cnt_c", "prop_a": "cnt_a", "prop_t": "cnt_t",
    "prop_n": "cnt_n", "prop_masked": "masked_counts",
}
# the k-mer order each k-mer statistic reads (kmeru8.rs:113-123, fw.rs:120)
KMER_STAT_K = {"dinuc_shannon": 2, "cpg_prop": 2, "trinuc_shannon": 3, "tetranuc_shannon": 4}


def hist_counts(hists: np.ndarray, masked: bool, keys) -> dict:
    """Count columns for N windows from their (N,256) byte histograms:
    "win_len" (every byte), "masked_counts", or "cnt_" and a lowercase
    letter for that base's count (a c g t n, and w s for gc_prop). The one
    place case folds (seq_statsu8.rs:50-85): masked counts only the
    uppercase byte and nothing as masked; unmasked adds the lowercase byte
    and counts lowercase IUPAC bases as masked. :func:`stats_table` reads
    its counts through here."""
    h = np.asarray(hists, dtype=np.int64)
    out = {}
    for key in keys:
        if key == "win_len":
            out[key] = h.sum(axis=1)
        elif key == "masked_counts":
            out[key] = (
                np.zeros(len(h), dtype=np.int64) if masked else h[:, _MASKED_BYTES].sum(axis=1)
            )
        elif masked:
            out[key] = h[:, ord(key[4:].upper())]
        else:
            out[key] = h[:, ord(key[4:].upper())] + h[:, ord(key[4:])]
    return out


def stats_table(
    hists: np.ndarray, kvecs: dict, masked: bool = False, f32: bool = True, keys=None
) -> dict:
    """Vectorized-across-windows finisher: the per-window statistics of N
    windows at once from their (N,256) byte-histogram matrix and (N,4^k)
    k-mer matrices.

    ``keys`` (default all of STATS_TABLE_KEYS) is exactly what is computed;
    the result holds them in STATS_TABLE_KEYS order. A count comes straight
    from the histograms (:func:`hist_counts`, int64); a ratio or entropy
    (float64) is computed only when asked for, from the counts it reads.
    `kvecs` need only hold the orders those keys read (KMER_STAT_K).
    ``f32=True`` reproduces the reference's f32 division semantics
    (seq_statsu8.rs:108-120, 0/0 -> NaN); f32=False computes in float64 for
    oracle-comparison paths.
    """
    want = set(STATS_TABLE_KEYS if keys is None else keys)
    unknown = want - set(STATS_TABLE_KEYS)
    if unknown:
        raise ValueError(f"unknown stats_table keys: {sorted(unknown)}")
    h = np.asarray(hists, dtype=np.int64)
    ftype = np.float32 if f32 else np.float64
    counts = {}

    def cnt(key):  # each count column is summed once, on first use
        if key not in counts:
            counts.update(hist_counts(h, masked, (key,)))
        return counts[key]

    def div(num, den):
        with np.errstate(divide="ignore", invalid="ignore"):
            return (num.astype(ftype) / den.astype(ftype)).astype(np.float64)

    out = {}
    for key in (k for k in STATS_TABLE_KEYS if k in want):
        if key in COUNT_KEYS:
            out[key] = cnt(key)
        elif key in _PROP_OF:
            out[key] = div(cnt(_PROP_OF[key]), cnt("win_len"))
        elif key == "gc_prop":
            gcs = cnt("cnt_g") + cnt("cnt_c") + cnt("cnt_s")
            out[key] = div(gcs, gcs + cnt("cnt_a") + cnt("cnt_t") + cnt("cnt_w"))
        elif key == "gc_skew":
            out[key] = div(cnt("cnt_g") - cnt("cnt_c"), cnt("cnt_g") + cnt("cnt_c"))
        elif key == "at_skew":
            out[key] = div(cnt("cnt_a") - cnt("cnt_t"), cnt("cnt_a") + cnt("cnt_t"))
        elif key == "cpg_prop":
            out[key] = div(np.asarray(kvecs[2])[:, 6], cnt("win_len"))
        elif key == "shannon_entropy":
            # 256-bin entropy with acgtn folded up (seq_statsu8.rs:90-106):
            # 5 column adds on a copy
            folded = h.copy()
            for lo, up in _FOLD_PAIRS:
                folded[:, up] += folded[:, lo]
                folded[:, lo] = 0
            out[key] = _entropy_rows(folded)
        elif key == "entropy6":
            # 6-bin entropy (entropy mode, entropy.rs:49-74): fold 256 bins
            # into 6 via per-class column-slice sums
            six = np.zeros((len(h), 6), dtype=np.int64)
            if masked:
                for i, b in enumerate(b"ACGTN"):
                    six[:, i] = h[:, b]
            else:
                for cls in range(6):
                    six[:, cls] = h[:, np.flatnonzero(SIX_BIN == cls)].sum(axis=1)
            out[key] = _entropy_rows(six)
        elif key in KMER_STAT_K:
            # k-mer diversities (kmeru8.rs:113-123)
            out[key] = _entropy_rows(kvecs[KMER_STAT_K[key]])
        else:
            # kt0: the KT0 closed form via an lgamma lookup table over
            # 0..max_len (A11). KT0/CTW always case-fold regardless of the
            # masked flag (kmeru8.rs:128-137 nuc_to_sym accepts upper and
            # lower).
            acgt = np.stack([h[:, b] + h[:, b + 32] for b in b"ACGT"], axis=1)
            n_eff = acgt.sum(axis=1)
            max_n = int(n_eff.max(initial=0))
            lg_half = np.array([math.lgamma(i + 0.5) for i in range(max_n + 1)])
            lg_int = np.array([math.lgamma(i + 2.0) for i in range(max_n + 1)])
            log_p = lg_half[acgt].sum(axis=1) - 4 * _LGAMMA_HALF + _LGAMMA_TWO - lg_int[n_eff]
            with np.errstate(divide="ignore", invalid="ignore"):
                out[key] = np.where(n_eff > 0, -(log_p / _LN2) / np.maximum(n_eff, 1), 0.0)
    return out


def page_window_stats(text, window: int, step: int | None = None, masked: bool = False):
    """Independent per-window reference: a list of per-window stat dicts,
    one scalar-kernel call per window over :func:`window_bounds` — shares
    no code with the batch kernel, so tests and the TSV gate check the
    production path against it (fixture/oracle path only)."""
    buf = _as_bytes(text if text is not None else "")
    out = []
    for s, e in window_bounds(len(buf), window, step):
        win = buf[s:e]
        st = scalar_stats_from_vectors(
            byte_hist(win), {k: kmer_vector(win, k) for k in KMER_KS}, masked
        )
        st["start"] = s
        st["end"] = e
        out.append(st)
    return out


def scalar_stats_from_vectors(hist, kvecs: dict, masked: bool = False) -> dict:
    """All finisher scalars from the associative state (byte hist + k-mer
    vectors) — the streaming-merge-friendly decomposition: merge = elementwise
    sum of hist/kvecs, then this finisher (SURVEY.md §4 custom item 2).

    CpG: di vector index 6 == 'CG' (fw.rs:120), denominator = window length.
    """
    ss = seq_stats_from_hist(hist, masked)
    length = ss["len"]
    di = np.asarray(kvecs[2])
    out = {
        "len": length,
        "mono": mono_vector(hist),
        "gc_prop": ss["gc_proportion"],
        "gc_skew": ss["gc_skew"],
        "at_skew": ss["at_skew"],
        "shannon_entropy": entropy256_from_hist(hist),
        "prop_g": ss["prop_g"],
        "prop_c": ss["prop_c"],
        "prop_a": ss["prop_a"],
        "prop_t": ss["prop_t"],
        "prop_n": ss["prop_n"],
        "prop_masked": ss["prop_masked"],
        "cpg_prop": float(np.float32(di[6]) / np.float32(length)) if length else float("nan"),
        "dinuc_shannon": shannon_diversity(kvecs[2]),
        "trinuc_shannon": shannon_diversity(kvecs[3]),
        "tetranuc_shannon": shannon_diversity(kvecs[4]),
        "kt0": kt0_from_counts(
            [
                hist[ord("A")] + hist[ord("a")],
                hist[ord("C")] + hist[ord("c")],
                hist[ord("G")] + hist[ord("g")],
                hist[ord("T")] + hist[ord("t")],
            ]
        ),
        "di_freq": di,
        "tri_freq": np.asarray(kvecs[3]),
        "tetra_freq": np.asarray(kvecs[4]),
    }
    return out
