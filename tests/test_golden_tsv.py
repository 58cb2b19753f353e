"""Golden end-to-end fixture test (SURVEY.md §5 item 2, FIXTURES.md §3):
run the full Spark pipeline on the synthetic pages table, export the five
reference-format TSVs, and compare row-for-row against an INDEPENDENT
pure-Python oracle (collections.Counter + math — no shared kernel code)
implementing the reference semantics directly from the Rust source."""

import itertools
import math
from collections import Counter

import numpy as np
import pytest

from fasta_windows_spark.functions.udfs import window_stats
from fasta_windows_spark.sink_tsv import (
    df_windows_to_rows,
    write_reference_tsvs,
    stats_header,
)
from fasta_windows_spark.sources import pages as P

W = 16  # small window to exercise clamps on the short reference strings

f32 = np.float32


def oracle_seq_stats(win: bytes, masked: bool) -> dict:
    """Independent transliteration of seq_statsu8.rs:34-122."""
    c = Counter(win)
    length = len(win)

    def n(ch):
        return c[ord(ch)]

    if masked:
        g, cc, a, t, nn = n("G"), n("C"), n("A"), n("T"), n("N")
        mask = 0
        w, s = n("W"), n("S")
    else:
        g, cc = n("G") + n("g"), n("C") + n("c")
        a, t = n("A") + n("a"), n("T") + n("t")
        nn = n("N") + n("n")
        mask = sum(n(ch) for ch in "acgtmrwsykvhbdn")
        w, s = n("W") + n("w"), n("S") + n("s")

    def div(x, y):
        return float(f32(x) / f32(y))  # f32 semantics incl. 0/0 -> NaN

    with np.errstate(invalid="ignore", divide="ignore"):
        gc_prop = div(g + cc + s, g + cc + s + a + t + w)
        gc_skew = div(g - cc, g + cc)
        at_skew = div(a - t, a + t)
        props = {k: div(v, length) for k, v in
                 dict(g=g, c=cc, a=a, t=t, n=nn, m=mask).items()}
    # 256-bin entropy, acgtn folded (seq_statsu8.rs:90-106)
    fold = Counter()
    for b, cnt in c.items():
        ch = chr(b)
        fold[ch.upper() if ch in "acgtn" else ch] += cnt
    ent = -sum(
        (v / length) * math.log2(v / length) for v in fold.values() if v > 0
    ) + 0.0 if length else 0.0
    return dict(
        gc_prop=gc_prop, gc_skew=gc_skew, at_skew=at_skew,
        shannon=ent, props=props,
        mono=[a, cc, g, t, nn],
    )


def oracle_kmers(win: bytes, k: int) -> list:
    """Independent kmeru8.rs:32-62 on dense ACGT domain (N-grams skipped)."""
    names = ["".join(p) for p in itertools.product("ACGT", repeat=k)]
    cnt = dict.fromkeys(names, 0)
    up = win.upper()
    for i in range(len(up) - k + 1):
        gram = up[i : i + k].decode()
        if gram in cnt:
            cnt[gram] += 1
    return [cnt[name] for name in names]


def oracle_diversity(vec: list) -> float:
    tot = sum(vec)
    if tot == 0:
        return 0.0
    return -sum((v / tot) * math.log2(v / tot) for v in vec if v > 0) + 0.0


def oracle_rows(pdf, masked=False):
    rows = []
    for _, page in pdf.iterrows():
        buf = page["text"].encode()
        pos = 0
        while pos < len(buf):
            win = buf[pos : min(pos + W, len(buf))]
            st = oracle_seq_stats(win, masked)
            di = oracle_kmers(win, 2)
            tri = oracle_kmers(win, 3)
            tetra = oracle_kmers(win, 4)
            rows.append(
                {
                    "id": page["url"],
                    "start": pos,
                    "end": pos + len(win),
                    "gc_prop": st["gc_prop"],
                    "gc_skew": st["gc_skew"],
                    "at_skew": st["at_skew"],
                    "shannon_entropy": st["shannon"],
                    "prop_g": st["props"]["g"],
                    "prop_c": st["props"]["c"],
                    "prop_a": st["props"]["a"],
                    "prop_t": st["props"]["t"],
                    "prop_n": st["props"]["n"],
                    "prop_masked": st["props"]["m"],
                    "cpg_prop": float(f32(di[6]) / f32(len(win))),  # fw.rs:120
                    "dinuc_shannon": oracle_diversity(di),
                    "trinuc_shannon": oracle_diversity(tri),
                    "tetranuc_shannon": oracle_diversity(tetra),
                    "mono": st["mono"],
                    "di_freq": di,
                    "tri_freq": tri,
                    "tetra_freq": tetra,
                }
            )
            pos += W
    return rows


@pytest.fixture(scope="module")
def pages_pdf():
    return P.gen_pages(n_pages=40, n_hosts=5, min_len=10, max_len=120, seed=42)


@pytest.mark.parametrize("masked", [False, True])
def test_golden_tsvs_match_oracle(spark, tmp_path, pages_pdf, masked):
    sdf = P.spark_pages(spark, pages_pdf)
    ws = window_stats(
        sdf, window=W, id_cols=["url"], masked=masked, f32=True, with_vectors=True
    )
    got_rows = df_windows_to_rows(ws.toPandas())
    got_paths = write_reference_tsvs(
        got_rows, str(tmp_path / "got"), "t", description=False, ctw=False
    )
    exp_paths = write_reference_tsvs(
        oracle_rows(pages_pdf, masked=masked),
        str(tmp_path / "exp"),
        "t",
        description=False,
        ctw=False,
    )
    for key in got_paths:
        got = open(got_paths[key]).read().splitlines()
        exp = open(exp_paths[key]).read().splitlines()
        assert len(got) == len(exp), key
        for i, (g, e) in enumerate(zip(got, exp)):
            assert g == e, f"{key} line {i} (masked={masked}):\n got {g}\n exp {e}"


def test_stats_header_variants():
    # fw.rs:235-240
    assert stats_header(False, False).startswith("ID\tstart\tend\tGC_prop")
    assert "\tctw\t" in stats_header(False, True)
    assert stats_header(True, False).split("\t")[1] == "description"


def test_entropy_bed_format(spark, tmp_path, pages_pdf):
    """entropy-mode BED analog (entropy.rs:138-148): %.6f, input order."""
    from fasta_windows_spark.functions.udfs import window_stats
    from fasta_windows_spark.sink_tsv import write_entropy_bed
    from fasta_windows_spark.kernels import entropy6, ctw_bits_per_base, window_bounds

    sdf = P.spark_pages(spark, pages_pdf)
    got = (
        window_stats(sdf, window=W, id_cols=["url"], fields=["entropy6"], with_ctw=True)
        .orderBy("url", "w_start")
        .toPandas()
    )
    rows = [
        dict(id=r["url"], start=r["w_start"], end=r["w_end"],
             entropy=r["entropy6"], ctw=r["ctw"])
        for _, r in got.iterrows()
    ]
    path = write_entropy_bed(rows, str(tmp_path), "e")
    lines = open(path).read().splitlines()

    # independent recompute, same order
    exp = []
    for _, page in pages_pdf.sort_values("url").iterrows():
        buf = page["text"].encode()
        for s, e in window_bounds(len(buf), W):
            exp.append(
                f"{page['url']}\t{s}\t{e}\t{entropy6(buf[s:e]):.6f}\t"
                f"{ctw_bits_per_base(buf[s:e], 6):.6f}"
            )
    assert lines == exp
