"""CLI export: the range-partitioned, executor-formatted TSV path must write
the same bytes as the row-at-a-time reference writer, keep (id, start)
order across duplicate ids, and run the window kernel after the range
exchange (one kernel pass per export)."""

import os

import pandas as pd
import pytest

from fasta_windows_spark import cli
from fasta_windows_spark.functions.udfs import window_stats
from fasta_windows_spark.sink_tsv import (
    TSV_FILES,
    df_windows_to_rows,
    write_reference_tsvs,
)
from fasta_windows_spark.sources import pages as P
from fasta_windows_spark.sources.fasta import fasta_as_documents

W = 16


def _cli_tsvs(out_dir: str, output: str) -> dict:
    return {
        key: open(os.path.join(out_dir, f"{output}_{name}_windows.tsv")).read()
        for key, (name, _) in TSV_FILES.items()
    }


def _reference_tsvs(df, out_dir, id_cols, flags) -> dict:
    """The independent writer over a collected window frame, with the
    parameters the CLI derives from `flags`."""
    step = int(flags[flags.index("-s") + 1]) if "-s" in flags else None
    ws = window_stats(
        df, id_cols=id_cols, window=W, step=step, masked="-m" in flags,
        with_ctw="-c" in flags, with_vectors=True, f32=True,
    )
    paths = write_reference_tsvs(
        df_windows_to_rows(ws.toPandas()), out_dir, "t",
        description="-d" in flags, ctw="-c" in flags,
    )
    return {key: open(p).read() for key, p in paths.items()}


@pytest.fixture(scope="module")
def pages_src(tmp_path_factory):
    src = str(tmp_path_factory.mktemp("pages") / "pages")
    pdf = P.gen_pages(n_pages=40, n_hosts=5, min_len=10, max_len=120, seed=11)
    P.write_pages_parquet(pdf, src, n_files=3)
    return src


@pytest.fixture
def uncoalesced(spark):
    """Keep every range partition (AQE would merge this small input into
    one), so the export's partition-by-partition order is exercised."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize(
    "flags", [["-s", "7"], ["-m"], ["-c"], ["-c", "-d"]],
    ids=["sliding", "masked", "ctw", "ctw_desc"],
)
def test_cli_tsvs_equal_reference_writer(spark, tmp_path, pages_src, flags,
                                         uncoalesced):
    exp = _reference_tsvs(spark.read.parquet(pages_src), str(tmp_path / "exp"),
                          ["url"], flags)
    out = str(tmp_path / "cli")
    assert cli.main(["-f", pages_src, "-o", "t", "-w", str(W), *flags,
                     "--out-dir", out]) == 0
    got = _cli_tsvs(out, "t")
    for key in TSV_FILES:
        assert got[key] == exp[key], key


FASTA = (
    ">chr1 first record desc\n"
    "ACGTACGTNNacgtGGCCAATT\n"
    "ACGTAC\n"
    '>chr2 has\ta tab and a "quoted" word\n'
    "GGGGCCCCAAAATTTTacgtn\n"
    ">chr3\n"
    "ATATATATCGCGCGCGTTT\n"
    ">chr0 sorts first\n"
    "CCCCGGGGTTTTAAAACCCCGGGGTTTTAAAA\n"
)


@pytest.mark.parametrize("flags", [["-d"], ["-c", "-d"]], ids=["desc", "ctw_desc"])
def test_cli_fasta_descriptions_written_verbatim(spark, tmp_path, flags):
    """-d prints each FASTA record's description as read (tabs and quotes
    included) and "No description." only where a record has none
    (fw.rs:98-101); the row-at-a-time writer reads the same column."""
    fa = tmp_path / "in.fa"
    fa.write_text(FASTA)
    out = str(tmp_path / "cli")
    assert cli.main(["-f", str(fa), "-o", "t", "-w", str(W), *flags,
                     "--out-dir", out]) == 0
    got = _cli_tsvs(out, "t")
    exp = _reference_tsvs(fasta_as_documents(spark, str(fa)), str(tmp_path / "exp"),
                          ["doc_id", "description"], flags)
    for key in TSV_FILES:
        assert got[key] == exp[key], key

    lines = got["stats"].splitlines()
    assert [ln.split("\t", 1)[0] for ln in lines[1:3]] == ["chr0", "chr0"]
    assert "chr1\tfirst record desc\t0\t16\t" in got["stats"]
    assert 'chr2\thas\ta tab and a "quoted" word\t16\t21\t' in got["stats"]
    assert "chr3\tNo description.\t0\t16\t" in got["stats"]
    assert got["mono"].count("chr3\tNo description.\t") == 2
    assert "chr1\tfirst record desc\t16\t28\t" in got["tetra"]


def test_cli_duplicate_ids_across_files(spark, tmp_path, uncoalesced):
    """Two files carry pages under the same urls: every file's (id, start)
    sequence is non-decreasing, and its lines are the reference writer's
    (the order among equal (id, start) windows is not defined)."""
    pdf = P.gen_pages(n_pages=16, n_hosts=4, min_len=20, max_len=90, seed=5)
    dup = pdf.copy()
    dup["text"] = pdf["text"].iloc[::-1].to_numpy()
    src = str(tmp_path / "pages")
    P.write_pages_parquet(pd.concat([pdf, dup], ignore_index=True), src, n_files=2)

    out = str(tmp_path / "cli")
    assert cli.main(["-f", src, "-o", "t", "-w", str(W), "-c", "--out-dir", out]) == 0
    got = _cli_tsvs(out, "t")
    exp = _reference_tsvs(spark.read.parquet(src), str(tmp_path / "exp"),
                          ["url"], ["-c"])
    for key in TSV_FILES:
        body = got[key].splitlines()[1:]
        keys = [(ln.split("\t")[0], int(ln.split("\t")[1])) for ln in body]
        assert keys == sorted(keys), key
        assert len({k for k, _ in keys}) == len(pdf)
        assert sorted(body) == sorted(exp[key].splitlines()[1:]), key


def test_cli_export_plans_range_partition_below_kernel(spark, tmp_path,
                                                       pages_src, monkeypatch):
    """In both modes the export plan range-partitions the pages and runs
    the kernel above that exchange; an Exchange above the kernel node
    would be a sort of the kernel's output, whose range sample runs the
    kernel a second time."""
    DF = type(spark.range(1))
    plans = []
    to_local = DF.toLocalIterator

    def record(self, *a, **k):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return to_local(self, *a, **k)

    monkeypatch.setattr(DF, "toLocalIterator", record)
    out = str(tmp_path / "cli")
    for flags in ([], ["-e"]):
        plans.clear()
        assert cli.main(["-f", pages_src, "-o", "t", "-w", str(W), *flags,
                         "--out-dir", out]) == 0
        assert len(plans) == 1
        plan = plans[0]
        assert plan.count("Exchange ") == 1, plan
        assert "Exchange rangepartitioning(url" in plan, plan
        assert plan.index("Exchange ") > plan.rindex("MapInArrow"), plan


def test_cli_integer_ids(spark, tmp_path):
    """A documents-schema input (integer doc_id) exports with decimal ids in
    numeric id order, byte for byte what the reference writer prints."""
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(10, "ACGT" * 5), (2, "GGCC" * 5), (1, "AATT" * 5)], "doc_id long, text string"
    ).write.parquet(src)
    out = str(tmp_path / "cli")
    assert cli.main(["-f", src, "-o", "t", "-w", str(W), "--out-dir", out]) == 0
    got = _cli_tsvs(out, "t")
    for key, text in got.items():
        rows = [ln.split("\t")[:3] for ln in text.splitlines()[1:]]
        assert rows == [["1", "0", "16"], ["1", "16", "20"], ["2", "0", "16"],
                        ["2", "16", "20"], ["10", "0", "16"], ["10", "16", "20"]], key
    exp = _reference_tsvs(spark.read.parquet(src), str(tmp_path / "exp"),
                          ["doc_id"], [])
    for key in TSV_FILES:
        assert got[key] == exp[key], key
