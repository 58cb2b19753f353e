"""CLI surface test: the reference-flag entry point end-to-end."""

import os

import pytest

from fasta_windows_spark.sources import pages as P
from fasta_windows_spark.sink_tsv import stats_header


def test_cli_default_mode_with_ctw_and_desc(tmp_path, spark):
    src = str(tmp_path / "pages")
    pdf = P.gen_pages(n_pages=12, n_hosts=3, min_len=20, max_len=60, seed=42)
    P.write_pages_parquet(pdf, src, n_files=1)

    from fasta_windows_spark import cli

    out_dir = str(tmp_path / "fw_out")
    # reuse the test session (cli.get_spark -> getOrCreate picks it up)
    rc = cli.main(
        ["-f", src, "-o", "t", "-w", "16", "-c", "-d", "--out-dir", out_dir]
    )
    assert rc == 0
    stats = open(os.path.join(out_dir, "t_freq_windows.tsv")).read().splitlines()
    assert stats[0] == stats_header(description=True, ctw=True)
    assert len(stats) > 1 and "No description." in stats[1]
    for f in ("mononuc", "dinuc", "trinuc", "tetranuc"):
        assert os.path.exists(os.path.join(out_dir, f"t_{f}_windows.tsv"))

    rc = cli.main(["-f", src, "-o", "t", "-w", "16", "-e", "--out-dir", out_dir])
    assert rc == 0
    bed = open(os.path.join(out_dir, "t_entropy.bed")).read().splitlines()
    assert len(bed) > 1 and len(bed[0].split("\t")) == 5


def test_cli_export_streams_without_collect(tmp_path, spark, monkeypatch):
    """The CLI export is a distributed sort + toLocalIterator stream: it
    must produce byte-identical TSVs to the in-memory writer path WITHOUT
    ever calling DataFrame.toPandas (the driver-OOM collect at scale,
    VERDICT r2 'wrong' #1)."""
    src = str(tmp_path / "pages")
    pdf = P.gen_pages(n_pages=30, n_hosts=5, min_len=40, max_len=90, seed=3)
    P.write_pages_parquet(pdf, src, n_files=2)

    from fasta_windows_spark.functions.udfs import window_stats
    from fasta_windows_spark.sink_tsv import (
        df_windows_to_rows,
        write_entropy_bed,
        write_reference_tsvs,
    )

    df = spark.read.parquet(src)
    ws = window_stats(
        df, text_col="text", id_cols=["url"], window=16, step=None,
        masked=False, with_ctw=True, with_vectors=True, f32=True,
    )
    exp_paths = write_reference_tsvs(
        df_windows_to_rows(ws.toPandas()), str(tmp_path / "exp"), "t",
        description=True, ctw=True,
    )
    ent = window_stats(
        df, text_col="text", id_cols=["url"], window=16, fields=["entropy6"],
        with_ctw=True,
    ).toPandas()
    ent = ent.sort_values(["url", "w_start"])
    exp_bed = write_entropy_bed(
        (dict(id=r["url"], start=r["w_start"], end=r["w_end"],
              entropy=r["entropy6"], ctw=r["ctw"]) for _, r in ent.iterrows()),
        str(tmp_path / "exp"), "t",
    )

    def _no_collect(self, *a, **k):
        raise AssertionError("CLI export must not collect the result")

    # patch the concrete class: it overrides the base pyspark.sql.DataFrame
    for name in ("toPandas", "toArrow", "collect"):
        monkeypatch.setattr(type(df), name, _no_collect)

    from fasta_windows_spark import cli

    out_dir = str(tmp_path / "fw_out")
    rc = cli.main(
        ["-f", src, "-o", "t", "-w", "16", "-c", "-d", "--out-dir", out_dir]
    )
    assert rc == 0
    for key, p in exp_paths.items():
        got = open(os.path.join(out_dir, os.path.basename(p))).read()
        assert got == open(p).read(), f"{key} TSV differs from collect path"

    rc = cli.main(["-f", src, "-o", "t", "-w", "16", "-e", "--out-dir", out_dir])
    assert rc == 0
    assert (
        open(os.path.join(out_dir, "t_entropy.bed")).read()
        == open(exp_bed).read()
    )


def test_cli_streaming_rejects_fasta(tmp_path, capsys):
    """--streaming only speaks the parquet pages schema; a FASTA input must
    fail fast instead of being silently re-read as parquet (ADVICE r2)."""
    from fasta_windows_spark import cli

    rc = cli.main(
        ["-f", "in.fa", "-o", "t", "--streaming", "--out-dir", str(tmp_path)]
    )
    assert rc == 2
    assert "batch-only" in capsys.readouterr().err


def test_cli_streaming_mode(tmp_path, spark):
    src = str(tmp_path / "pages")
    # ~25 min event-time span so 10-minute append windows actually close
    pdf = P.gen_pages(n_pages=600, n_hosts=4, min_len=50, max_len=120, seed=7)
    P.write_pages_parquet(pdf, src, n_files=2)

    from fasta_windows_spark import cli

    out_dir = str(tmp_path / "fw_out")
    rc = cli.main(["-f", src, "-o", "s", "--streaming", "--out-dir", out_dir])
    assert rc == 0
    got = spark.read.parquet(os.path.join(out_dir, "s_host_windows"))
    assert got.count() > 0
    assert {"host", "n_pages", "total_chars"} <= set(got.columns)

    # salted hot-host path produces the identical result schema + rows
    rc = cli.main(
        ["-f", src, "-o", "ss", "--streaming", "--salt-buckets", "4",
         "--out-dir", out_dir]
    )
    assert rc == 0
    salted = spark.read.parquet(os.path.join(out_dir, "ss_host_windows"))
    g = got.orderBy("w_start", "host").toPandas()
    s = salted.orderBy("w_start", "host").toPandas()
    assert list(g.columns) == list(s.columns)
    assert "n_windows" in s.columns
    assert g.equals(s)


# (url, minute, text): non-ASCII letters, mixed-case bases, one empty page
# next to others, and a host whose only page is empty
_BYTES_PAGES = [
    ("https://a.example/1", 1, "héllo ACGT wörld " * 4),
    ("https://a.example/2", 3, "acgtNNnn ünï ACgt"),
    ("https://a.example/3", 4, ""),
    ("https://a.example/4", 12, "naïve GATTACA ñandú " * 3),
    ("https://b.example/1", 2, "基因组 acgt 🧬 GGCC " * 5),
    ("https://b.example/2", 15, "AaCcGgTtNn" * 9),
    ("https://b.example/3", 21, "ÅÇĞŤ acgtn " * 2),
    ("https://c.example/1", 13, ""),
    ("https://a.example/5", 45, "ACGT"),
]


@pytest.mark.parametrize("window", [None, 50], ids=["w_default", "w50"])
def test_cli_streaming_counts_utf8_bytes(tmp_path, spark, window):
    """CLI --streaming counts UTF-8 bytes through the window kernel: per
    (10-minute window, host) the sink equals a pandas recomputation of the
    byte total, the case-folded ACGTN counts, the non-empty page count and
    the number of -w windows; a page with empty text counts nowhere."""
    import math

    import pandas as pd

    from fasta_windows_spark import cli

    base = pd.Timestamp("2024-01-01 10:00:00")
    pdf = pd.DataFrame(
        {
            "url": [u for u, _, _ in _BYTES_PAGES],
            "warc_ts": [base + pd.Timedelta(minutes=m) for _, m, _ in _BYTES_PAGES],
            "html": [b"x"] * len(_BYTES_PAGES),
            "text": [t for _, _, t in _BYTES_PAGES],
            "lang": ["en"] * len(_BYTES_PAGES),
        }
    )
    src = str(tmp_path / "pages")
    P.write_pages_parquet(pdf, src, n_files=1)
    out_dir = str(tmp_path / "fw_out")
    w_args = [] if window is None else ["-w", str(window)]
    assert cli.main(["-f", src, "-o", "b", "--streaming", *w_args,
                     "--out-dir", out_dir]) == 0
    cols = ["n_windows", "n_pages", "total_chars",
            "cnt_a", "cnt_c", "cnt_g", "cnt_t", "cnt_n"]
    got = (
        spark.read.parquet(os.path.join(out_dir, "b_host_windows"))
        .toPandas().set_index(["w_start", "host"]).sort_index()[cols]
    )

    w = window or 1000
    pages = pdf[pdf["text"] != ""].assign(
        w_start=pdf["warc_ts"].dt.floor("10min"),
        host=pdf["url"].str.split("/").str[2],
        nbytes=pdf["text"].map(lambda t: len(t.encode())),
    )
    pages = pages.assign(
        n_windows=pages["nbytes"].map(lambda b: math.ceil(b / w)),
        n_pages=1,
        total_chars=pages["nbytes"],
        **{f"cnt_{b.lower()}": pages["text"].map(
            lambda t, b=b: t.count(b) + t.count(b.lower())) for b in "ACGTN"},
    )
    # append mode emits the windows the final watermark (last event - 10
    # minutes = 10:35) has closed
    closed = pages[pages["w_start"] + pd.Timedelta(minutes=10)
                   <= pdf["warc_ts"].max() - pd.Timedelta(minutes=10)]
    want = closed.groupby(["w_start", "host"])[cols].sum().sort_index()
    assert len(want) == 5
    assert got.index.tolist() == want.index.tolist()
    assert (got.astype("int64").to_numpy() == want.astype("int64").to_numpy()).all(), (
        got, want)


@pytest.mark.parametrize(
    "flags", [["-m"], ["-s", "7"], ["-m", "-s", "7"]],
    ids=["masked", "sliding", "masked_sliding"],
)
def test_cli_entropy_bed_honours_masked_and_step(tmp_path, spark, flags):
    """-e prints, per -w/-s window of each page's UTF-8 bytes, the 6-bin
    entropy (uppercase ACGTN only under -m, entropy.rs:49-57) and CTW
    depth 6, matching an independent per-window recompute on mixed-case,
    N-rich and non-ASCII pages."""
    import pandas as pd

    from fasta_windows_spark import cli
    from fasta_windows_spark.kernels import ctw_bits_per_base, entropy6, window_bounds

    pages = _BYTES_PAGES + [
        ("https://d.example/1", 5, "NNNNNNNNnnnnACGTNNNNNNNNacgtNNNN" * 3),
        ("https://d.example/2", 6, "nnnnNNNN" * 5 + "gattaca"),
    ]
    pdf = pd.DataFrame(
        {
            "url": [u for u, _, _ in pages],
            "warc_ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=m)
                        for _, m, _ in pages],
            "html": [b"x"] * len(pages),
            "text": [t for _, _, t in pages],
            "lang": ["en"] * len(pages),
        }
    )
    src = str(tmp_path / "pages")
    P.write_pages_parquet(pdf, src, n_files=2)
    out_dir = str(tmp_path / "fw_out")
    assert cli.main(["-f", src, "-o", "t", "-w", "16", "-e", *flags,
                     "--out-dir", out_dir]) == 0

    masked = "-m" in flags
    step = int(flags[flags.index("-s") + 1]) if "-s" in flags else None
    exp = []
    for url, _, text in sorted(pages):
        buf = text.encode()
        for s, e in window_bounds(len(buf), 16, step):
            exp.append(
                f"{url}\t{s}\t{e}\t{entropy6(buf[s:e], masked=masked):.6f}\t"
                f"{ctw_bits_per_base(buf[s:e], 6):.6f}"
            )
    assert open(os.path.join(out_dir, "t_entropy.bed")).read().splitlines() == exp


@pytest.mark.parametrize(
    "flags",
    [["-s", "5"], ["-m"], ["-d"], ["-c"], ["-e"], ["--text-col", "body"],
     ["--id-col", "url"]],
    ids=lambda f: f[0],
)
def test_cli_streaming_refuses_ignored_flags(tmp_path, capsys, flags):
    """--streaming counts tumbling -w windows of `text` per host; a flag it
    has no use for is refused with exit 2 before any sink is written."""
    from fasta_windows_spark import cli

    src = str(tmp_path / "pages")
    P.write_pages_parquet(P.gen_pages(n_pages=20, n_hosts=2, seed=1), src, n_files=1)
    out_dir = tmp_path / "fw_out"
    rc = cli.main(["-f", src, "-o", "s", "--streaming", *flags,
                   "--out-dir", str(out_dir)])
    assert rc == 2
    assert flags[0] in capsys.readouterr().err
    assert not out_dir.exists()


@pytest.mark.parametrize(
    "flags",
    [["-w", "0"], ["-w", "-3"], ["-s", "0"], ["-s", "-1"], ["-w", "0", "--streaming"]],
    ids=["w0", "w_neg", "s0", "s_neg", "streaming_w0"],
)
def test_cli_refuses_nonpositive_window_or_step(tmp_path, capsys, flags):
    """-w or -s below 1 exits 2 before Spark starts, instead of header-only
    TSVs (-w 0), an empty sink (--streaming -w 0) or a Python-worker crash
    (-s 0, negative values)."""
    from fasta_windows_spark import cli

    src = str(tmp_path / "pages")
    P.write_pages_parquet(P.gen_pages(n_pages=20, n_hosts=2, seed=1), src, n_files=1)
    out_dir = tmp_path / "fw_out"
    rc = cli.main(["-f", src, "-o", "t", *flags, "--out-dir", str(out_dir)])
    assert rc == 2
    assert flags[0] in capsys.readouterr().err
    assert not out_dir.exists()


def test_cli_streaming_empty_input_dir(tmp_path, spark):
    """--streaming reads its input only as a stream, whose schema is
    explicit: an input directory with no files yet finishes with exit 0
    and a committed sink that holds no rows (a batch read of the same
    directory cannot infer a schema)."""
    from fasta_windows_spark import cli

    src = tmp_path / "pages"
    src.mkdir()
    out_dir = tmp_path / "fw_out"
    rc = cli.main(["-f", str(src), "-o", "e", "--streaming", "--out-dir", str(out_dir)])
    assert rc == 0
    sink = out_dir / "e_host_windows"
    assert (sink / "_spark_metadata").is_dir()
    assert not list(sink.rglob("*.parquet"))
