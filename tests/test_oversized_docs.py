"""Oversized-document segmentation (ADVICE r1): a doc larger than
OVERSIZE_DOC_BYTES is split into window-aligned sub-chunks with
step-compatible overlap inside the Arrow kernel path, bounding per-call
transients — output must equal the independent per-window reference
(kernels.page_window_stats) on every window of the whole doc. The kernel
call plan (`_kernel_calls`) is checked Spark-free: across its calls, every
row's kept windows are its window_bounds exactly once."""

import numpy as np
import pandas as pd
import pytest

from fasta_windows_spark.functions.udfs import (
    OVERSIZE_DOC_BYTES,
    _kernel_calls,
    window_stats,
)
from fasta_windows_spark import kernels as K
from fasta_windows_spark.kernels import window_bounds


@pytest.mark.parametrize(
    "length,window,step",
    [
        (1_000_000, 1000, 1000),  # tumbling
        (1_000_000, 1000, 250),   # sliding
        (1_000_000, 200, 1000),   # gapped (step > window)
        (999_001, 1000, 333),     # non-aligned tail
        (131073, 65536, 1024),    # window >> chunk target
        (5, 1000, 100),           # shorter than one window
    ],
)
def test_doc_segments_cover_all_windows_exactly(length, window, step):
    bounds = window_bounds(length, window, step)
    calls = _kernel_calls([length], window, step, target_bytes=32 << 10)
    rebuilt = []
    for r0, r1, b0, b1, owned in calls:
        assert (r0, r1) == (0, 1)
        assert 0 <= b0 < b1 <= length
        local = window_bounds(b1 - b0, window, step)
        if owned is None:  # a row below the oversize cut runs whole
            assert (b0, b1) == (0, length)
            owned = len(local)
        # the owned windows are a prefix of the segment's local windows
        assert owned <= len(local)
        for s, e in local[:owned]:
            rebuilt.append((s + b0, e + b0))
        # non-tail segments must give every owned window its full content
        if b1 < length:
            assert local[owned - 1][1] - local[owned - 1][0] == window
    assert rebuilt == bounds


def _owned_windows(lengths, window, step, target_bytes):
    """Each row's windows as the planned calls keep them, in doc
    coordinates, with the grouped calls' byte spans checked on the way."""
    offsets = np.concatenate(([0], np.cumsum(lengths))).tolist()
    calls = _kernel_calls(lengths, window, step, target_bytes)
    kept = {i: [] for i in range(len(lengths))}
    for r0, r1, b0, b1, owned in calls:
        assert r0 < r1 and b0 <= b1
        if owned is None:
            assert (b0, b1) == (offsets[r0], offsets[r1])
            rows = lengths[r0:r1]
            assert all(ln <= OVERSIZE_DOC_BYTES for ln in rows)
            # a call closes on the row that reaches target_bytes
            assert sum(rows[:-1]) < target_bytes
            for i in range(r0, r1):
                kept[i] += window_bounds(lengths[i], window, step)
        else:
            assert r1 == r0 + 1 and lengths[r0] > OVERSIZE_DOC_BYTES
            assert offsets[r0] <= b0 < b1 <= offsets[r1]
            base = b0 - offsets[r0]
            local = window_bounds(b1 - b0, window, step)[:owned]
            assert len(local) == owned
            kept[r0] += [(s + base, e + base) for s, e in local]
    # the calls visit the rows in order, each row in one grouped call or in
    # consecutive segment calls
    rows = [i for r0, r1, *_ in calls for i in range(r0, r1)]
    assert [i for j, i in enumerate(rows) if j == 0 or rows[j - 1] != i] == list(
        range(len(lengths))
    )
    return kept


@pytest.mark.parametrize("window,step", [(1000, None), (1000, 250), (200, 1000)])
def test_kernel_calls_mixed_rows(window, step):
    """Oversized rows first, adjacent and last, zero-length rows between
    grouped ones, and an empty batch: every row's kept windows are its
    window_bounds, each exactly once and in order."""
    big = OVERSIZE_DOC_BYTES
    target = 32 << 10
    rows = [
        big + 1, 0, 5000, 30_000, 3000, 0, 0, big + 40_000, 3 * big + 17,
        9000, 40_000, 0, 12_000, big + 999,
    ]
    for lengths in (rows, rows[1:-1], [0, 0, 0], [], [big + 5]):
        kept = _owned_windows(lengths, window, step, target)
        for i, ln in enumerate(lengths):
            assert kept[i] == window_bounds(ln, window, step), (lengths, i)


def _mk_docs(spark, texts):
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    return spark.createDataFrame(pdf)


# page_window_stats key -> window_stats column, where the names differ
_COLUMN_OF = {"len": "win_len", "di_freq": "k2_vec", "tri_freq": "k3_vec", "tetra_freq": "k4_vec"}


def _reference_rows(texts, window, step):
    """window_stats' columns for every window, from the per-window scalar
    reference (f32 semantics, the reference's default)."""
    rows = []
    for doc_id, text in enumerate(texts):
        buf = text.encode()
        for st in K.page_window_stats(text, window, step):
            row = {"doc_id": doc_id, "w_start": st["start"], "w_end": st["end"]}
            for i, b in enumerate("acgtn"):
                row[f"cnt_{b}"] = int(st["mono"][i])
            row["entropy6"] = K.entropy6(buf[st["start"] : st["end"]])
            for k, v in st.items():
                row[_COLUMN_OF.get(k, k)] = v
            rows.append(row)
    return pd.DataFrame(rows)


@pytest.mark.parametrize("step", [None, 700, 5000])
def test_oversized_doc_matches_row_path(spark, step):
    rng = np.random.default_rng(7)
    big = "".join(rng.choice(list("ACGTNacgtnxy "), size=OVERSIZE_DOC_BYTES + 12_345))
    small = "ACGT" * 600
    texts = [big, small, "", big[: 3 * 4096]]
    docs = _mk_docs(spark, texts)
    kw = dict(id_cols=["doc_id"], window=2000, step=step, with_vectors=True)
    arrow = (
        window_stats(docs, **kw)
        .toPandas()
        .sort_values(["doc_id", "w_start"])
        .reset_index(drop=True)
    )
    ref = _reference_rows(texts, 2000, step)
    assert len(arrow) == len(ref) > 0
    for c in arrow.columns:
        a, b = arrow[c], ref[c]
        if a.dtype == object:  # k-mer vectors
            assert all(np.array_equal(x, y) for x, y in zip(a, b)), c
        elif np.issubdtype(a.dtype, np.floating):
            an, bn = a.isna(), b.astype(float).isna()
            assert (an == bn).all(), c
            # the kernel's entropies come from a v*log2(v) table, the
            # reference's from p*log2(p): equal up to float64 rounding
            assert np.allclose(a[~an], b[~bn].astype(float), rtol=0, atol=1e-9), c
        else:
            assert (a == b).all(), c


def test_oversized_doc_ctw_matches_whole(spark):
    # CTW is sequential per window; segmentation must not change any window
    big = ("ACGTACGGTTCA" * (OVERSIZE_DOC_BYTES // 12 + 100))[: OVERSIZE_DOC_BYTES + 5000]
    docs = _mk_docs(spark, [big])
    kw = dict(id_cols=["doc_id"], window=1000, f32=False, with_ctw=True)
    arrow = (
        window_stats(docs, **kw)
        .select("doc_id", "w_start", "ctw")
        .toPandas()
        .sort_values(["doc_id", "w_start"])
        .reset_index(drop=True)
    )
    bounds = window_bounds(len(big), 1000)
    assert list(arrow["w_start"]) == [s for s, _ in bounds]
    want = K.ctw_bits_per_base_many([big.encode()[s:e] for s, e in bounds], 6)
    assert np.allclose(arrow["ctw"], want, rtol=0, atol=1e-10)


def _rnd_text(rng, n):
    alpha = np.frombuffer(b"ACGTNacgtnXW ", dtype=np.uint8)
    return alpha[rng.integers(0, len(alpha), n)].tobytes().decode()


def _windows_in_order(docs, texts, **kw):
    """window_stats over `docs` in (doc_id, w_start) order, with each row's
    window bytes, checked against window_bounds."""
    got = (
        window_stats(docs, id_cols=["doc_id"], **kw)
        .toPandas()
        .sort_values(["doc_id", "w_start"])
        .reset_index(drop=True)
    )
    wins = []
    for doc_id, text in enumerate(texts):
        buf = text.encode()
        for s, e in window_bounds(len(buf), kw["window"], kw.get("step")):
            wins.append((doc_id, s, e, buf[s:e]))
    assert [w[:3] for w in wins] == list(
        zip(got["doc_id"], got["w_start"], got["w_end"])
    )
    return got, [w[3] for w in wins]


@pytest.mark.parametrize(
    "window,step",
    [(16, None), (16, 4), (16, 23), (1000, 700)],
    ids=["tumbling", "sliding", "gapped", "oversized"],
)
def test_window_stats_ctw_matches_scalar(spark, window, step):
    """Entropy mode (fields=["entropy6"], with_ctw=True): every window's ctw
    equals the scalar coder and its entropy6 the scalar 6-bin entropy, on
    dirty and non-ASCII docs and, at W=1000, a doc the oversized path
    segments. CTW runs once per emitted slice over window bytes read back
    from the batch's text buffer."""
    rng = np.random.default_rng(3)
    texts = [_rnd_text(rng, 64), _rnd_text(rng, 64), "", "é" + _rnd_text(rng, 40)]
    if window == 1000:
        texts = [_rnd_text(rng, OVERSIZE_DOC_BYTES + 3001)] + texts
    got, wins = _windows_in_order(
        _mk_docs(spark, texts), texts, window=window, step=step,
        fields=["entropy6"], with_ctw=True,
    )
    assert list(got.columns) == ["doc_id", "w_start", "w_end", "entropy6", "ctw"]
    want_ctw = np.array([K.ctw_bits_per_base(w, 6) for w in wins])
    assert np.abs(got["ctw"].to_numpy() - want_ctw).max() <= 1e-10
    want_ent = np.array([K.entropy6(w) for w in wins])
    assert np.abs(got["entropy6"].to_numpy() - want_ent).max() <= 1e-12


def test_window_stats_ctw_depth0_is_kt0(spark):
    """ctw_depth=0 degenerates to the KT0 closed form (kmeru8.rs:171-173)."""
    rng = np.random.default_rng(4)
    texts = [_rnd_text(rng, 300), "acgtACGT" * 30, "NNNN", ""]
    got, wins = _windows_in_order(
        _mk_docs(spark, texts), texts, window=50, step=20, fields=[],
        with_ctw=True, ctw_depth=0,
    )
    assert list(got["ctw"]) == [K.kt0_bits_per_base(w) for w in wins]


# (fields, masked, with_vectors): counts alone, one k-mer order, a mix of
# finisher families, vectors without scalars, and everything
_FIELD_SETS = [
    (["win_len", "cnt_g", "cnt_c"], False, False),
    (["cnt_a", "cnt_t", "cnt_n"], True, False),
    (["cpg_prop"], False, False),
    (["trinuc_shannon"], False, False),
    (["gc_prop", "kt0", "entropy6"], False, False),
    ([], False, True),
    (None, False, False),
]


def test_fields_projection_matches_full(spark):
    """fields= decides what is computed; every subset equals the same
    columns of the full call, on the grouped-chunk and the oversized-doc
    segment paths, tumbling and sliding."""
    from fasta_windows_spark.functions.udfs import _scalar_fields

    rng = np.random.default_rng(5)
    big = "".join(rng.choice(list("ACGTacgtNNNNé "), size=OVERSIZE_DOC_BYTES + 7_777))
    texts = [
        big,
        ("ACGTacgtn " * 50 + "N" * 120) * 10,
        "héllo wörld GGCCaattNNNN" * 40,
        "",
        "gggcccAAA" * 200,
    ]
    docs = _mk_docs(spark, texts)
    key = ["doc_id", "w_start"]

    def run(**kw):
        pdf = window_stats(docs, id_cols=["doc_id"], f32=False, **kw).toPandas()
        for c in pdf.columns:
            if c.endswith("_vec"):
                pdf[c] = pdf[c].map(tuple)
        return pdf.sort_values(key).reset_index(drop=True)

    for step in (None, 120):
        full = {
            m: run(window=300, step=step, masked=m, with_vectors=True)
            for m in (False, True)
        }
        for fields, masked, with_vectors in _FIELD_SETS:
            got_df = window_stats(
                docs, id_cols=["doc_id"], window=300, step=step, f32=False,
                masked=masked, with_vectors=with_vectors, fields=fields,
            )
            cols = [n for n, _ in _scalar_fields(fields)]
            vecs = ["k2_vec", "k3_vec", "k4_vec"] if with_vectors else []
            assert [f.name for f in got_df.schema.fields] == (
                ["doc_id", "w_start", "w_end"] + cols + vecs
            )
            got = run(
                window=300, step=step, masked=masked,
                with_vectors=with_vectors, fields=fields,
            )
            assert len(got) > 500
            pd.testing.assert_frame_equal(
                got, full[masked][got.columns.tolist()], check_exact=True,
                obj=f"fields={fields} step={step}",
            )
    with pytest.raises(ValueError):
        _scalar_fields(["nope"])
