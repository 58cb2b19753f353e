"""Reference-format TSV export (fixture parity with fasta_windows).

Reproduces the five default-mode writers (main.rs:97-110, fw.rs:229-385)
and the entropy-mode BED writer (entropy.rs:138-148) byte-for-byte:
- headers vary with (description, ctw) exactly as fw.rs:235-240;
- floats print with Rust's {:.3}/{:.6} semantics — round-half-to-even on
  the exact binary value, which Python's format() matches and Java's
  String.format (HALF_UP) does not, so formatting happens at the export
  edge in Python;
- NaN prints as "NaN" (Rust f32::NAN display; 0/0 skews,
  seq_statsu8.rs:110-111);
- rows ordered by (id, start): the reference's post-channel stable sort
  (fw.rs:149-152).

This is the export edge only — Spark keeps full precision in parquet/
Iceberg; at scale these TSVs are written per-partition or per-micro-batch
(foreachBatch) for sample inspection, exactly like the reference's
single-node writers.

Memory model: the CLI export (:func:`export_reference_tsvs`) takes window
rows already in (id, start) order within range-partitioned partitions (see
``cli.sorted_by_id``). Executors format each sorted Arrow batch into one
row of five text blocks (:func:`_format_block`); the driver writes the
headers, then the blocks in partition order through
``toLocalIterator(prefetchPartitions=True)`` — one partition in driver
memory at a time, never a whole-result ``toPandas()`` collect, and no
per-window Python row on the driver.

:func:`write_reference_tsvs` is the independent row-at-a-time writer over
an ITERABLE of row dicts, kept as the reference the export is compared
against. Pass ``presorted=True`` for an ordered stream; a plain list is
sorted in-process for small fixtures.
"""

from __future__ import annotations

import math
import os
from contextlib import ExitStack
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .kernels import kmer_names


def _f(x, digits: int = 3) -> str:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return "NaN"
    return f"{x:.{digits}f}"


def stats_header(description: bool, ctw: bool) -> str:
    """fw.rs:235-240 header variants."""
    cols = ["ID"]
    if description:
        cols.append("description")
    cols += ["start", "end", "GC_prop", "GC_skew", "AT_skew", "Shannon_entropy"]
    if ctw:
        cols.append("ctw")
    cols += [
        "Prop_Gs", "Prop_Cs", "Prop_As", "Prop_Ts", "Prop_Ns", "Prop_masked",
        "CpG_prop", "Dinucleotide_Shannon", "Trinucleotide_Shannon",
        "Tetranucleotide_Shannon",
    ]
    return "\t".join(cols)


def kmer_header(k: int, description: bool) -> str:
    base = "ID\tdescription\tstart\tend\t" if description else "ID\tstart\tend\t"
    if k == 1:
        return base + "A\tC\tG\tT\tN"  # fw.rs:310
    return base + "\t".join(kmer_names(k))  # fw.rs:312-331


# file key -> name suffix (main.rs:93-110) and k (0 = the stats file)
TSV_FILES = {
    "stats": ("freq", 0),
    "mono": ("mononuc", 1),
    "di": ("dinuc", 2),
    "tri": ("trinuc", 3),
    "tetra": ("tetranuc", 4),
}


def _open_tsvs(stack: ExitStack, out_dir: str, output: str,
               description: bool, ctw: bool) -> tuple[dict, dict]:
    """Open the five TSVs on `stack` and write their headers; returns
    (paths, file handles), both keyed like TSV_FILES."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {key: os.path.join(out_dir, f"{output}_{name}_windows.tsv")
             for key, (name, _) in TSV_FILES.items()}
    fh = {key: stack.enter_context(open(p, "w")) for key, p in paths.items()}
    for key, (_, k) in TSV_FILES.items():
        head = stats_header(description, ctw) if k == 0 else kmer_header(k, description)
        fh[key].write(head + "\n")
    return paths, fh


def write_reference_tsvs(
    rows: Iterable[dict],
    out_dir: str,
    output: str,
    description: bool = False,
    ctw: bool = False,
    presorted: bool = False,
) -> dict:
    """Write the 5 default-mode TSVs from per-window row dicts (keys: id,
    desc, start, end, the stat scalars, mono/di/tri/tetra vectors).
    File names per main.rs:93-110.

    All five files are written in ONE streaming pass over `rows`, so a
    lazy iterator (e.g. `toLocalIterator` over a distributed sort) never
    materializes the result set in driver memory. `presorted=False`
    materializes and sorts in-process — for small fixture lists only."""
    if not presorted:
        rows = sorted(rows, key=lambda r: (r["id"], r["start"]))
    kmer_files = (("mono", 1, "mono"), ("di", 2, "di_freq"),
                  ("tri", 3, "tri_freq"), ("tetra", 4, "tetra_freq"))
    with ExitStack() as stack:
        paths, fh = _open_tsvs(stack, out_dir, output, description, ctw)
        for r in rows:
            prefix = [str(r["id"])]
            if description:
                prefix.append(r.get("desc") or "No description.")
            prefix += [str(r["start"]), str(r["end"])]
            parts = list(prefix)
            parts += [_f(r["gc_prop"]), _f(r["gc_skew"]), _f(r["at_skew"]),
                      _f(r["shannon_entropy"])]
            if ctw:
                parts.append(_f(r.get("ctw", 0.0)))
            parts += [
                _f(r["prop_g"]), _f(r["prop_c"]), _f(r["prop_a"]),
                _f(r["prop_t"]), _f(r["prop_n"]), _f(r["prop_masked"]),
                _f(r["cpg_prop"]), _f(r["dinuc_shannon"]),
                _f(r["trinuc_shannon"]), _f(r["tetranuc_shannon"]),
            ]
            fh["stats"].write("\t".join(parts) + "\n")
            for key, _, vec_key in kmer_files:
                fh[key].write(
                    "\t".join(prefix + [str(int(v)) for v in r[vec_key]]) + "\n"
                )
    return paths


# the FASTA description column (sources.fasta); its value or this default
# fills the -d column (fw.rs:98-101: desc().unwrap_or("No description."))
DESC_COL = "description"

_INT_CSV = pacsv.WriteOptions(include_header=False, delimiter="\t")


def _int_lines(cols: list) -> list[str]:
    """One tab-joined decimal line per row of the integer Arrow `cols`,
    written by Arrow's CSV writer (integers never need quoting)."""
    sink = pa.BufferOutputStream()
    table = pa.Table.from_arrays(cols, names=[f"c{i}" for i in range(len(cols))])
    pacsv.write_csv(table, sink, _INT_CSV)
    return sink.getvalue().to_pybytes().decode().split("\n")[:-1]


def _stats_float_cols(ctw: bool) -> list[str]:
    """Window-frame float columns in freq-TSV order (fw.rs:235-240)."""
    return (["gc_prop", "gc_skew", "at_skew", "shannon_entropy"]
            + (["ctw"] if ctw else [])
            + ["prop_g", "prop_c", "prop_a", "prop_t", "prop_n", "prop_masked",
               "cpg_prop", "dinuc_shannon", "trinuc_shannon", "tetranuc_shannon"])


def _format_block(b: pa.RecordBatch, id_col: str, description: bool,
                  ctw: bool) -> dict[str, str]:
    """One sorted batch of window_stats(+vectors) rows -> the five files'
    lines for it, keyed like TSV_FILES. Same bytes as write_reference_tsvs:
    ids and descriptions are joined verbatim in Python (a description may
    hold tabs and quotes, which the CSV writer would quote or reject),
    floats go through _f, integers through Arrow's CSV writer."""
    col = b.column
    ids = pc.fill_null(col(id_col).cast(pa.string()), "").to_pylist()
    if description:
        has_desc = DESC_COL in b.schema.names
        descs = col(DESC_COL).to_pylist() if has_desc else [None] * len(ids)
        ids = [f"{i}\t{d or 'No description.'}" for i, d in zip(ids, descs)]
    heads = [f"{i}\t{p}\t" for i, p in zip(ids, _int_lines([col("w_start"), col("w_end")]))]

    def block(lines) -> str:
        return "".join(h + line + "\n" for h, line in zip(heads, lines))

    floats = [[_f(v) for v in col(c).to_pylist()] for c in _stats_float_cols(ctw)]
    out = {
        "stats": block("\t".join(v) for v in zip(*floats)),
        "mono": block(_int_lines([col(c) for c in ("cnt_a", "cnt_c", "cnt_g", "cnt_t", "cnt_n")])),
    }
    for key, (_, k) in TSV_FILES.items():
        if k > 1:
            vec = col(f"k{k}_vec").flatten().to_numpy().reshape(-1, 4**k)
            out[key] = block(_int_lines([pa.array(c) for c in np.ascontiguousarray(vec.T)]))
    return out


def export_reference_tsvs(
    windows: DataFrame,
    id_col: str,
    out_dir: str,
    output: str,
    description: bool = False,
    ctw: bool = False,
) -> dict:
    """Write the five default-mode TSVs from a window_stats(+vectors) frame
    whose partitions are range-ordered by id and sorted by (id, w_start)
    within (``cli.sorted_by_id``). The description column, when asked for,
    is DESC_COL if the frame has it. Returns the paths keyed like
    TSV_FILES.

    Executors turn each sorted Arrow batch into one row of five text
    blocks, in input order; the driver writes them in partition order."""

    def fmt(batches):
        for b in batches:
            if b.num_rows:
                blocks = _format_block(b, id_col, description, ctw)
                yield pa.RecordBatch.from_pydict(
                    {key: pa.array([blocks[key]], pa.string()) for key in TSV_FILES}
                )

    schema = T.StructType([T.StructField(key, T.StringType()) for key in TSV_FILES])
    blocks = windows.mapInArrow(fmt, schema)
    with ExitStack() as stack:
        paths, fh = _open_tsvs(stack, out_dir, output, description, ctw)
        for row in blocks.toLocalIterator(prefetchPartitions=True):
            for key in TSV_FILES:
                fh[key].write(row[key])
    return paths


def write_entropy_bed(rows: Iterable[dict], out_dir: str, output: str) -> str:
    """entropy-mode BED (entropy.rs:138-148): id, start, end, entropy %.6f,
    ctw %.6f, input order preserved (rows must arrive pre-ordered)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{output}_entropy.bed")
    with open(path, "w") as f:
        for r in rows:
            f.write(
                f"{r['id']}\t{r['start']}\t{r['end']}\t"
                f"{_f(r['entropy'], 6)}\t{_f(r['ctw'], 6)}\n"
            )
    return path


def window_mapping_to_row(r, contains) -> dict:
    """One window_stats(+vectors) record (any mapping: pandas Series or
    `Row.asDict()`) -> writer row dict. `contains` tests key presence
    (differs between pandas Series and plain dicts)."""
    if contains("url"):
        rid = r["url"]
    elif contains("doc_id"):
        rid = r["doc_id"]
    else:
        rid = r["id"]
    d = {
        "id": rid,
        "desc": (r[DESC_COL] if contains(DESC_COL) else None) or "No description.",
        "start": int(r["w_start"]),
        "end": int(r["w_end"]),
        "gc_prop": r["gc_prop"],
        "gc_skew": r["gc_skew"],
        "at_skew": r["at_skew"],
        "shannon_entropy": r["shannon_entropy"],
        "prop_g": r["prop_g"],
        "prop_c": r["prop_c"],
        "prop_a": r["prop_a"],
        "prop_t": r["prop_t"],
        "prop_n": r["prop_n"],
        "prop_masked": r["prop_masked"],
        "cpg_prop": r["cpg_prop"],
        "dinuc_shannon": r["dinuc_shannon"],
        "trinuc_shannon": r["trinuc_shannon"],
        "tetranuc_shannon": r["tetranuc_shannon"],
        "mono": [r["cnt_a"], r["cnt_c"], r["cnt_g"], r["cnt_t"], r["cnt_n"]],
        "di_freq": list(r["k2_vec"]),
        "tri_freq": list(r["k3_vec"]),
        "tetra_freq": list(r["k4_vec"]),
    }
    if contains("ctw"):
        d["ctw"] = r["ctw"]
    return d


def df_windows_to_rows(pdf) -> list[dict]:
    """Adapter: window_stats(+vectors) pandas frame -> writer row dicts."""
    cols = set(pdf.columns)
    return [
        window_mapping_to_row(r, cols.__contains__) for _, r in pdf.iterrows()
    ]


def spark_rows_to_writer_iter(df) -> Iterator[dict]:
    """Adapter: a SORTED window_stats DataFrame -> lazy writer-dict stream
    via toLocalIterator (one partition in driver memory at a time). The
    DataFrame must already be orderBy(id, w_start)-sorted; the range-
    partitioned sort output is consumed partition-by-partition in order,
    so global order is preserved without a driver-side collect."""
    cols = set(df.columns)
    for row in df.toLocalIterator(prefetchPartitions=True):
        yield window_mapping_to_row(row.asDict(recursive=False), cols.__contains__)
