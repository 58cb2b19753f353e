"""Property-based kernel tests (hypothesis) — coverage the reference never
had (SURVEY.md §5: no property testing upstream). Invariants hold for ANY
byte string, not just the fixture alphabet."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from fasta_windows_spark import kernels as K

dna_text = st.text(alphabet="ACGTNacgtn", max_size=200)
any_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200
)
windows = st.integers(min_value=1, max_value=64)
# None = tumbling; a step below the window slides, above it leaves gaps
steps = st.one_of(st.none(), st.integers(min_value=1, max_value=80))


def _assert_kernel_matches_scalar(texts, w, step):
    """The production kernel over a concatenated buffer == byte_hist /
    kmer_vector on every window_bounds slice of every doc, in order."""
    bufs = [t.encode() for t in texts]
    lengths = np.array([len(b) for b in bufs], dtype=np.int64)
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    doc_idx, starts, ends, hists, kvecs = K.batch_window_stats_concat_sliding(
        buf, lengths, w, step
    )
    i = 0
    for d, b in enumerate(bufs):
        for s, e in K.window_bounds(len(b), w, step):
            assert (doc_idx[i], starts[i], ends[i]) == (d, s, e)
            win = b[s:e]
            assert np.array_equal(hists[i], K.byte_hist(win))
            for k in K.KMER_KS:
                assert np.array_equal(kvecs[k][i], K.kmer_vector(win, k))
            i += 1
    assert i == len(starts)


@given(any_text, windows)
@settings(max_examples=150, deadline=None)
def test_window_bounds_partition_text(text, w):
    """Tumbling windows partition [0, len) exactly: contiguous, ordered,
    non-overlapping, all shorter-or-equal W, last possibly short."""
    n = len(text.encode())
    bounds = K.window_bounds(n, w)
    assert sum(e - s for s, e in bounds) == n
    pos = 0
    for s, e in bounds:
        assert s == pos and s < e and e - s <= w
        pos = e


@given(any_text, windows, steps)
@settings(max_examples=150, deadline=None)
def test_batch_equals_scalar_path(text, w, step):
    """The fused multi-window kernel == per-window scalar kernels for any
    printable input, tumbling, sliding and gapped (batch/scalar
    consistency)."""
    _assert_kernel_matches_scalar([text], w, step)


@given(dna_text)
@settings(max_examples=150, deadline=None)
def test_entropy_bounds(text):
    """0 <= H6 <= log2(6); 0 <= H256 <= log2(#distinct bytes)."""
    h6 = K.entropy6(text)
    assert 0.0 <= h6 <= math.log2(6) + 1e-12
    h256 = K.entropy256(text)
    distinct = len(set(text.upper())) or 1
    assert 0.0 <= h256 <= math.log2(max(distinct, 1)) + 1e-9


@given(any_text, st.sampled_from([2, 3, 4]))
@settings(max_examples=150, deadline=None)
def test_kmer_total_equals_valid_grams(text, k):
    """Sum of the dense count vector == number of pure-ACGT k-grams."""
    buf = text.encode().upper()
    expected = sum(
        1
        for i in range(max(len(buf) - k + 1, 0))
        if all(b in b"ACGT" for b in buf[i : i + k])
    )
    assert int(K.kmer_vector(text, k).sum()) == expected


@given(dna_text)
@settings(max_examples=60, deadline=None)
def test_ctw_depth_monotone_nonincreasing_vs_kt0_bound(text):
    """CTW is a proper coder: bits/base >= 0; depth 0 == KT0 exactly."""
    d0 = K.ctw_bits_per_base(text, 0)
    kt = K.kt0_bits_per_base(text)
    assert abs(d0 - kt) < 1e-12
    d2 = K.ctw_bits_per_base(text, 2)
    assert d2 >= 0.0


@given(dna_text)
@settings(max_examples=100, deadline=None)
def test_revcomp_involution_on_acgt(text):
    """revcomp(revcomp(x)) == x for pure upper ACGT inputs."""
    pure = "".join(c for c in text.upper() if c in "ACGT")
    rc = K.reverse_complement(pure.encode())
    assert K.reverse_complement(rc) == pure.encode()


@given(st.lists(dna_text, max_size=8), windows, steps)
@settings(max_examples=60, deadline=None)
def test_multi_doc_buffer_equals_scalar_path(texts, w, step):
    """Many docs in one buffer (the Arrow zero-copy layout): windows
    restart at every doc and no gram crosses a doc boundary."""
    _assert_kernel_matches_scalar(texts, w, step)


# --- pure-Python mirrors of the new operators, property-tested without a
# SparkSession (the Spark paths are pinned to these semantics by the
# reference tests in test_text_filters.py / test_graph.py) ---------------


def _py_line_filter(text, min_words=3, blocked=("bad",)):
    kept = [
        ln
        for ln in text.split("\n")
        if len(ln.split(" ")) >= min_words
        and not any(w in ln.split(" ") for w in blocked)
    ]
    return "\n".join(kept)


line_text = st.text(alphabet=" \nabz", min_size=0, max_size=120)


@given(line_text)
@settings(max_examples=120, deadline=None)
def test_line_filter_is_idempotent(text):
    """filter(filter(x)) == filter(x): every kept line already satisfies
    the predicate, so a second pass changes nothing."""
    once = _py_line_filter(text)
    assert _py_line_filter(once) == once


@given(line_text)
@settings(max_examples=120, deadline=None)
def test_line_filter_output_lines_satisfy_predicate(text):
    out = _py_line_filter(text)
    if not out:
        return
    for ln in out.split("\n"):
        toks = ln.split(" ")
        assert len(toks) >= 3 and "bad" not in toks


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
    unique=True,
)


@given(edges_strategy)
@settings(max_examples=80, deadline=None)
def test_pagerank_reference_conserves_mass_and_positivity(edges):
    """The fixed-point recurrence keeps total mass in (SCALE - loss,
    SCALE] where loss is bounded by floor ops (< 3 per node per
    iteration), and every rank is at least the teleport term."""
    from tests.test_graph import _py_pagerank

    scale = 10**12
    r = _py_pagerank(edges, iterations=3, scale=scale)
    n = len(r)
    total = sum(r.values())
    assert total <= scale
    assert total > scale - 6 * n * 3  # floor-loss bound
    teleport = (scale * 15) // (100 * n)
    assert all(v >= teleport for v in r.values())
