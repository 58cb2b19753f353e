"""Output gate: every workload's output is checked on every run against a
computation that shares no code with the engine's Spark path.

- Streaming sinks are read through their own ``_spark_metadata`` manifest
  with pyarrow and compared with a numpy/pandas recomputation from the
  generated pages. The file order is replayed to predict which pages the
  watermark drops.
- The reference TSVs are checked against ``kernels.page_window_stats``.

Each check returns a list of mismatch strings; empty means the gate passed.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import SENTINEL_HOST, WATERMARK_S

MAX_REPORTED = 5  # mismatches listed per check; the count is always exact


def _bytes(text: str) -> np.ndarray:
    return np.frombuffer(text.encode("utf-8"), dtype=np.uint8)


def _fold_counts(texts, letters: str) -> dict:
    """Case-folded counts of each letter per text."""
    out = {c: np.zeros(len(texts), np.int64) for c in letters}
    for i, t in enumerate(texts):
        h = np.bincount(_bytes(t), minlength=256)
        for c in letters:
            out[c][i] = h[ord(c)] + h[ord(c.lower())]
    return out


# --- streaming sinks ----------------------------------------------------------


def manifest_files(out: str) -> list[str]:
    """Data files the sink's transaction log lists as added (v1 format:
    a version line, then one JSON action per line)."""
    added: dict[str, bool] = {}
    meta = os.path.join(out, "_spark_metadata")
    for name in sorted(os.listdir(meta)):
        if name.startswith("."):
            continue
        with open(os.path.join(meta, name)) as f:
            if f.readline().strip() != "v1":
                raise ValueError(f"unknown sink log version in {name}")
            for line in f:
                if line.strip():
                    a = json.loads(line)
                    added[a["path"]] = a.get("action", "add") == "add"
    return [p.removeprefix("file://") for p, ok in added.items() if ok]


def sink_files(out: str) -> dict:
    """Files and bytes in the sink directory, and orphans: data files no
    manifest entry lists (writes the sink did but never committed)."""
    listed = {os.path.basename(p) for p in manifest_files(out)}
    data = glob.glob(os.path.join(out, "*.parquet"))
    return {
        "files": len(data),
        "bytes": sum(os.path.getsize(p) for p in data),
        "orphans": sum(os.path.basename(p) not in listed for p in data),
    }


def read_sink(out: str) -> pd.DataFrame:
    files = manifest_files(out)
    if not files:
        return pd.DataFrame()
    df = pd.concat([pq.read_table(p).to_pandas() for p in files], ignore_index=True)
    df["w_start"] = pd.to_datetime(df["w_start"]).astype("int64") // 10**9
    return df


def _compare(got: pd.DataFrame, want: pd.DataFrame, keys, exact) -> list:
    errs = []
    if got.empty:
        return [f"sink is empty, expected {len(want)} rows"]
    dup = got.duplicated(keys).sum()
    if dup:
        errs.append(f"{dup} duplicate keys in sink")
    m = want.merge(got, on=keys, how="outer", suffixes=("_want", "_got"),
                   indicator=True)
    for side, what in (("left_only", "missing"), ("right_only", "unexpected")):
        rows = m[m["_merge"] == side]
        if len(rows):
            errs.append(f"{len(rows)} {what} rows, e.g. {rows[keys].head(3).values.tolist()}")
    both = m[m["_merge"] == "both"]
    for c in exact:
        bad = both[both[f"{c}_want"] != both[f"{c}_got"]]
        if len(bad):
            errs.append(f"{len(bad)} rows differ in {c}")
    return errs[:MAX_REPORTED]


def late_watermarks(pages: pd.DataFrame) -> np.ndarray:
    """Watermark each file's micro-batch drops late rows against: the
    maximum event time of all earlier batches minus the delay, as of the
    batch before (Spark keeps the late-event watermark one batch behind
    the eviction watermark so chained operators agree). 0 before any."""
    n_files = int(pages["file"].max()) + 1
    max_upto = pages.groupby("file")["ts"].max().reindex(range(n_files)).cummax()
    evict = np.zeros(n_files + 1, np.int64)  # evict[b] = watermark in batch b
    evict[1:] = max_upto.to_numpy() - WATERMARK_S
    evict = np.maximum.accumulate(np.maximum(evict, 0))
    return np.concatenate(([0], evict[:-1]))[:n_files]


def expected_counts(pages: pd.DataFrame, window: int):
    """stream_counts: per (10-minute window, host) the number of positional
    windows, their summed length and summed G and C counts, of the pages
    the watermark keeps. Lengths are UTF-8 bytes, the kernel's unit; every
    generated page is ASCII. The file order is replayed: a page is dropped
    when its window ends at or before its batch's late-event watermark.
    Returns (expected sink rows, predicted dropped count in the unit Spark
    counts: one partially aggregated (window, host) group per batch, as
    each batch is a single file and so a single map task)."""
    wm = late_watermarks(pages)
    p = pages.copy()
    p["w_start"] = p["ts"] // WATERMARK_S * WATERMARK_S
    late = p["w_start"] + WATERMARK_S <= wm[p["file"].to_numpy()]
    dropped = len(p[late].drop_duplicates(["file", "w_start", "host"]))
    p = p[~late & (p["host"] != SENTINEL_HOST)].copy()
    p["len"] = [len(t.encode("utf-8")) for t in p["text"]]
    p["n_windows"] = -(-p["len"] // window)
    cnt = _fold_counts(p["text"].tolist(), "GC")
    p["cnt_g"], p["cnt_c"] = cnt["G"], cnt["C"]
    want = (
        p.groupby(["w_start", "host"], as_index=False)
        .agg(n_windows=("n_windows", "sum"), total_chars=("len", "sum"),
             cnt_g=("cnt_g", "sum"), cnt_c=("cnt_c", "sum"))
    )
    return want, dropped


def check_counts(out: str, want: pd.DataFrame) -> list:
    return _compare(read_sink(out), want, ["w_start", "host"],
                    ["n_windows", "total_chars", "cnt_g", "cnt_c"])


# --- batch CLI outputs --------------------------------------------------------


TSV_SCALARS = [
    "gc_prop", "gc_skew", "at_skew", "shannon_entropy", "prop_g", "prop_c",
    "prop_a", "prop_t", "prop_n", "prop_masked", "cpg_prop", "dinuc_shannon",
    "trinuc_shannon", "tetranuc_shannon",
]
TSV_VECTORS = (("mononuc", "mono"), ("dinuc", "di_freq"), ("trinuc", "tri_freq"),
               ("tetranuc", "tetra_freq"))


def check_tsvs(out_dir: str, name: str, pages: pd.DataFrame, window: int) -> list:
    """All five reference TSVs, every row, against page_window_stats. The
    writer prints 3 decimals of f32 stats; a value may round either way
    across an f32/f64 boundary, so scalars allow one unit in the last
    printed place."""
    from fasta_windows_spark.kernels import page_window_stats

    want = []
    for url, text in sorted(zip(pages["url"], pages["text"])):
        for st in page_window_stats(text, window):
            want.append((url, st))
    errs = []
    files = {"freq": f"{name}_freq_windows.tsv"}
    files.update({k: f"{name}_{k}_windows.tsv" for k, _ in TSV_VECTORS})
    rows = {}
    for k, fn in files.items():
        with open(os.path.join(out_dir, fn)) as f:
            rows[k] = [line.rstrip("\n").split("\t") for line in f][1:]
        if len(rows[k]) != len(want):
            errs.append(f"{fn} has {len(rows[k])} rows, expected {len(want)}")
    if errs:
        return errs
    for i, (url, st) in enumerate(want):
        key = [url, str(st["start"]), str(st["end"])]
        r = rows["freq"][i]
        if r[:3] != key:
            errs.append(f"freq row {r[:3]} out of place, expected {key}")
        else:
            for col, v in zip(TSV_SCALARS, r[3:]):
                ref = st[col]
                if v == "NaN" and np.isnan(ref):
                    continue
                if v == "NaN" or abs(float(v) - ref) > 1.001e-3:
                    errs.append(f"{col} {v} != {ref:.3f} at {url}:{st['start']}")
                    break
        for k, vk in TSV_VECTORS:
            r = rows[k][i]
            if r[:3] != key or [int(x) for x in r[3:]] != [int(x) for x in st[vk]]:
                errs.append(f"{k} row differs at {url}:{st['start']}")
        if len(errs) >= MAX_REPORTED:
            break
    return errs[:MAX_REPORTED]
