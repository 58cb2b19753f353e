"""Arrow-batched UDF wrappers around the numpy kernels.

The central operator is :func:`window_stats` — the Spark re-expression of the
reference's whole per-window pipeline (fw.rs:85-128): explode each document's
text into positional windows and compute the per-window statistics asked
for (``fields=``, default all), in ONE ``mapInArrow`` pass with zero per-row
Python (BASELINE.json input_hint).

Architecture note (100 TB): positional windows live entirely inside one row,
so this stage is a narrow transformation — no shuffle, no state; it scales
linearly with input splits. Only event-time grouping (streaming module) and
the final export sort ever shuffle. Column pruning still works upstream of
mapInArrow: we select only the needed input columns before the UDF, so the
parquet scan never reads unused columns (e.g. the `html` binary).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
import pyspark.sql.types as T

from ..kernels import (
    COUNT_KEYS,
    KMER_KS,
    KMER_STAT_K,
    batch_window_stats_concat_sliding,
    ctw_bits_per_base_many,
    hist_counts,
    stats_table,
)

# scalar stats emitted per window (names are the queries()/oracle contract)
SCALAR_FIELDS = [
    ("win_len", T.LongType()),
    ("cnt_a", T.LongType()),
    ("cnt_c", T.LongType()),
    ("cnt_g", T.LongType()),
    ("cnt_t", T.LongType()),
    ("cnt_n", T.LongType()),
    ("gc_prop", T.DoubleType()),
    ("gc_skew", T.DoubleType()),
    ("at_skew", T.DoubleType()),
    ("shannon_entropy", T.DoubleType()),
    ("entropy6", T.DoubleType()),
    ("prop_g", T.DoubleType()),
    ("prop_c", T.DoubleType()),
    ("prop_a", T.DoubleType()),
    ("prop_t", T.DoubleType()),
    ("prop_n", T.DoubleType()),
    ("prop_masked", T.DoubleType()),
    ("cpg_prop", T.DoubleType()),
    ("dinuc_shannon", T.DoubleType()),
    ("trinuc_shannon", T.DoubleType()),
    ("tetranuc_shannon", T.DoubleType()),
    ("kt0", T.DoubleType()),
]

_STAT_KEY = {  # schema name -> stats_table key
    "win_len": "len",
    "cnt_a": "a",
    "cnt_c": "c",
    "cnt_g": "g",
    "cnt_t": "t",
    "cnt_n": "n",
}


def _scalar_fields(fields: list | None) -> list:
    """Subset of SCALAR_FIELDS to emit (None = all), declaration order kept."""
    if fields is None:
        return SCALAR_FIELDS
    want = set(fields)
    unknown = want - {n for n, _ in SCALAR_FIELDS}
    if unknown:
        raise ValueError(f"unknown window-stat fields: {sorted(unknown)}")
    return [(n, t) for n, t in SCALAR_FIELDS if n in want]


def window_stats_schema(
    id_fields: list,
    with_ctw: bool = False,
    with_vectors: bool = False,
    fields: list | None = None,
) -> T.StructType:
    out = [T.StructField(n, t) for n, t in id_fields]
    out += [
        T.StructField("w_start", T.LongType()),
        T.StructField("w_end", T.LongType()),
    ]
    out += [T.StructField(n, t) for n, t in _scalar_fields(fields)]
    if with_ctw:
        out.append(T.StructField("ctw", T.DoubleType()))
    if with_vectors:
        for k in KMER_KS:
            out.append(
                T.StructField(f"k{k}_vec", T.ArrayType(T.IntegerType(), False))
            )
    return T.StructType(out)


def _arrow_string_parts(col):
    """Zero-copy (data uint8 view, per-row lengths) from an Arrow string
    array — Arrow's layout IS the kernel's concatenated-buffer input."""
    import pyarrow as pa

    if col.null_count:
        import pyarrow.compute as pc

        col = pc.fill_null(col, "")
    off_dtype = np.int64 if pa.types.is_large_string(col.type) else np.int32
    offsets = np.frombuffer(col.buffers()[1], dtype=off_dtype)[
        col.offset : col.offset + len(col) + 1
    ].astype(np.int64)
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)[
        offsets[0] : offsets[-1]
    ]
    lengths = np.diff(offsets)
    return data, lengths


# Per-chunk working set target. The kernel's temps (int32 rolling codes,
# bincount keys, per-window count matrices) are ~25-30x the text bytes, so
# the chunk must be sized for the PRIVATE L2 (2 MB/core here), not the
# shared L3: with 32 KB text the whole kernel working set is ~1 MB and every
# core runs cache-resident. Measured on a 32-vCPU VM with 2 MB L2 per core
# (pure multiprocessing, tumbling kernel, W=1000): 2 MB chunks =
# 11 MB/s/core at 4 procs collapsing to 4.7 at 16 (L3 blown,
# DRAM-throttled VM); 32 KB chunks = 37 MB/s/core at BOTH 4 and 16 procs
# (597 MB/s aggregate, 0.99 scaling).
CHUNK_TEXT_BYTES = 32 << 10

# Output grouping: per-chunk results are tiny (32 windows); building Arrow
# arrays per chunk would dominate, so finisher + Arrow emission run once per
# EMIT_TEXT_BYTES of accumulated kernel output.
EMIT_TEXT_BYTES = 4 << 20


# A doc longer than this is segmented into window-aligned sub-chunks so one
# chromosome/book-scale row can't force a single kernel call whose transients
# (~30x text bytes x window/step overlap factor) blow past the L2-resident
# design (ADVICE r1). 4x CHUNK keeps small docs on the grouped fast path.
OVERSIZE_DOC_BYTES = 4 * CHUNK_TEXT_BYTES


def _segment_starts_per_chunk(window: int, step: int, target_bytes: int) -> int:
    """Window starts owned per segment: ~target_bytes of owned span, and at
    least 4x the inter-segment overlap (window-step) so re-scanned overlap
    bytes stay <= 25% even when window >> target."""
    m = max(1, target_bytes // step)
    if window > step:
        m = max(m, -(-(4 * (window - step)) // step))
    return m


def _kernel_calls(lengths, window: int, step: int | None,
                  target_bytes: int = CHUNK_TEXT_BYTES):
    """The kernel calls for one batch's rows, in row order, as
    (row0, row1, byte_lo, byte_hi, owned); byte offsets index the batch's
    concatenated text buffer.

    Rows up to OVERSIZE_DOC_BYTES are grouped whole: a call closes after
    the row that brings it to ``target_bytes``, and ``owned`` is None (every
    window of rows [row0, row1) is kept). A longer row is cut into
    window-aligned segments, one call each, run as a standalone doc:
    segment j owns window starts [j*m, (j+1)*m) (multiples of ``step``) and
    its bytes extend ``window`` past the last owned start, so every owned
    window sees its full content. The kernel emits a doc's windows in start
    order, so the owned windows are the call's first ``owned`` rows, shifted
    by the segment's offset into its row — bit-identical to one call over
    the whole row (the tail segment's end-clamp is the true row end)."""
    step = window if step is None else step
    lengths = np.asarray(lengths).tolist()
    calls = []
    r0 = b0 = b = 0
    for i, ln in enumerate(lengths):
        if ln > OVERSIZE_DOC_BYTES:
            if r0 < i:
                calls.append((r0, i, b0, b, None))
            m = _segment_starts_per_chunk(window, step, target_bytes)
            n_starts = -(-ln // step)  # == len(window_bounds(ln, ...))
            for j0 in range(0, n_starts, m):
                owned = min(j0 + m, n_starts) - j0
                hi = min((j0 + owned - 1) * step + window, ln)
                calls.append((i, i + 1, b + j0 * step, b + hi, owned))
            r0, b0 = i + 1, b + ln
        elif b + ln - b0 >= target_bytes:
            calls.append((r0, i + 1, b0, b + ln, None))
            r0, b0 = i + 1, b + ln
        b += ln
    if r0 < len(lengths):
        calls.append((r0, len(lengths), b0, b, None))
    return calls


def window_stats(
    df: DataFrame,
    text_col: str = "text",
    id_cols: list | None = None,
    window: int = 100,
    step: int | None = None,
    masked: bool = False,
    with_ctw: bool = False,
    with_vectors: bool = False,
    f32: bool = True,
    fields: list | None = None,
    ctw_depth: int = 6,
) -> DataFrame:
    """Explode `df` into positional windows of `text_col` with all statistics.

    One output row per (document, window). `id_cols` pass through unchanged.
    ``f32`` keeps the reference's f32 division semantics; oracle-checked
    queries pass f32=False and round at the edge. Window positions and
    lengths count UTF-8 BYTES (the reference's u8 contract, seq_statsu8.rs).

    ``fields``: emit only these scalar stat columns (default all). This is
    projection pushdown through the Python boundary — Catalyst cannot prune
    columns INSIDE a mapInArrow, so a downstream agg that needs 3 of the 22
    scalars would otherwise pay Arrow IPC for all 22 on every window. It
    also decides what is computed: the kernel builds only the k-mer orders
    the requested fields read (all of them with ``with_vectors``), counts
    alone (``win_len``/``cnt_*``, or no field) come straight from the byte
    histograms with no finisher, and the finisher computes only the
    requested statistics.

    ``with_ctw`` adds a ``ctw`` column: CTW bits/base at ``ctw_depth`` (6 is
    the reference's -c and entropy mode; 0 is the KT0 closed form). It runs
    once per emitted slice of windows, not inside the kernel: the lockstep
    coder's per-call overhead then spreads over thousands of windows
    instead of one 32 KiB chunk's few dozen. Entropy mode is
    ``fields=["entropy6"], with_ctw=True``.

    The text column's Arrow layout (one concatenated UTF-8 buffer +
    offsets) feeds the kernel ZERO-COPY, skipping pandas/Python-string
    materialization entirely. Each Arrow batch runs as one loop over its
    kernel-call plan (:func:`_kernel_calls`: ~32 KiB groups of whole rows,
    window-aligned segments of rows above OVERSIZE_DOC_BYTES). Sliding
    windows run as ceil(window/step) phase-shifted vectorized passes
    (kernels.batch_window_stats_concat_sliding).
    """
    import pyarrow as pa

    id_cols = id_cols or ["doc_id"]
    in_df = df.select(*id_cols, text_col)
    id_fields = [(c, in_df.schema[c].dataType) for c in id_cols]
    schema = window_stats_schema(id_fields, with_ctw, with_vectors, fields)
    emit_fields = _scalar_fields(fields)
    stat_keys = [_STAT_KEY.get(n, n) for n, _ in emit_fields]
    # the k-mer orders to build: what the vectors or requested stats read
    ks = KMER_KS if with_vectors else tuple(
        sorted({KMER_STAT_K[k] for k in stat_keys if k in KMER_STAT_K})
    )
    counts_only = COUNT_KEYS.issuperset(stat_keys)

    # rows per output RecordBatch: 2M bounds the finisher's transient
    # matrices; with vectors, Arrow list offsets are int32, so a slice must
    # also keep n * 4^kmax < 2^31 (a single huge doc at step=1 can produce
    # tens of millions of windows in one kernel call)
    EMIT_MAX_WINDOWS = 2_000_000
    if with_vectors:
        EMIT_MAX_WINDOWS = min(EMIT_MAX_WINDOWS, (2**31 - 1) // 4 ** max(ks))

    def emit(full_batch, fdata, row_offsets, parts):
        # concatenate per-chunk kernel outputs, run the vectorized finisher
        # (or, for counts alone, the histogram column sums) and CTW ONCE
        # over each bounded row-slice, build Arrow arrays once per slice —
        # per-chunk Python/Arrow overhead stays amortized while the kernel
        # itself runs on L2-resident chunks
        doc_idx = np.concatenate([r0 + p[0] for r0, p in parts])
        starts = np.concatenate([p[1] for _, p in parts])
        ends = np.concatenate([p[2] for _, p in parts])
        hists = np.vstack([p[3] for _, p in parts])
        kvecs = {k: np.vstack([p[4][k] for _, p in parts]) for k in ks}
        for s0 in range(0, len(starts), EMIT_MAX_WINDOWS):
            s1 = min(s0 + EMIT_MAX_WINDOWS, len(starts))
            sl_kvecs = {k: kvecs[k][s0:s1] for k in ks}
            if counts_only:
                st = hist_counts(hists[s0:s1], masked, stat_keys)
            else:
                st = stats_table(hists[s0:s1], sl_kvecs, masked, f32, keys=stat_keys)
            take = pa.array(doc_idx[s0:s1], type=pa.int64())
            arrays, names = [], []
            for c in id_cols:
                arrays.append(
                    full_batch.column(full_batch.schema.get_field_index(c)).take(take)
                )
                names.append(c)
            arrays += [
                pa.array(starts[s0:s1], pa.int64()),
                pa.array(ends[s0:s1], pa.int64()),
            ]
            names += ["w_start", "w_end"]
            for name, _ in emit_fields:
                key = _STAT_KEY.get(name, name)
                vals = st[key]
                if name.startswith("cnt_") or name == "win_len":
                    arrays.append(pa.array(np.asarray(vals, dtype=np.int64)))
                else:
                    # from_pandas=True: NaN -> NULL, matching the
                    # oracles' nullif() convention
                    arrays.append(
                        pa.array(np.asarray(vals, dtype=np.float64), from_pandas=True)
                    )
                names.append(name)
            if with_ctw:
                # window bytes straight from the batch's text buffer
                base = row_offsets[doc_idx[s0:s1]]
                lo, hi = (base + starts[s0:s1]).tolist(), (base + ends[s0:s1]).tolist()
                wins = [fdata[a:b] for a, b in zip(lo, hi)]
                arrays.append(
                    pa.array(ctw_bits_per_base_many(wins, ctw_depth), pa.float64())
                )
                names.append("ctw")
            if with_vectors:
                n = s1 - s0
                for k in ks:
                    flat = pa.array(
                        sl_kvecs[k].reshape(-1).astype(np.int32), pa.int32()
                    )
                    offs = pa.array(
                        np.arange(n + 1, dtype=np.int64) * (4**k), pa.int32()
                    )
                    arrays.append(pa.ListArray.from_arrays(offs, flat))
                    names.append(f"k{k}_vec")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    def compute(batches):
        for full_batch in batches:
            ftext = full_batch.column(full_batch.schema.get_field_index(text_col))
            fdata, flengths = _arrow_string_parts(ftext)
            row_offsets = np.concatenate(([0], np.cumsum(flengths)))
            parts, acc = [], 0
            for r0, r1, lo, hi, owned in _kernel_calls(flengths, window, step):
                lengths = (
                    flengths[r0:r1] if owned is None
                    else np.array([hi - lo], dtype=np.int64)
                )
                res = batch_window_stats_concat_sliding(
                    fdata[lo:hi], lengths, window, step, ks=ks
                )
                if owned is not None:
                    # a segment: keep its owned windows, shifted from
                    # segment-local to doc coordinates
                    base = lo - int(row_offsets[r0])
                    doc_idx, starts, ends, hists, kvecs = res
                    res = (
                        doc_idx[:owned],
                        starts[:owned] + base,
                        ends[:owned] + base,
                        hists[:owned],
                        {k: v[:owned] for k, v in kvecs.items()},
                    )
                if len(res[1]) == 0:
                    continue
                parts.append((r0, res))
                acc += hi - lo
                if acc >= EMIT_TEXT_BYTES:
                    yield from emit(full_batch, fdata, row_offsets, parts)
                    parts, acc = [], 0
            if parts:
                yield from emit(full_batch, fdata, row_offsets, parts)

    return in_df.mapInArrow(compute, schema=schema)
