"""The benchmark's own tests, on tiny seeded inputs.

    python3 -m pytest perfbench -q

They check that the output gate rejects a corrupted sink, that the
watermark-drop prediction matches what Spark counts, that span self times
subtract overlapping children once, and that the command prints exactly the
metric names and units BENCHMARK.json declares, on the untraced path and on
the traced layer split of a batch and a streaming workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gate  # noqa: E402
import gen  # noqa: E402
from spans import Tracer  # noqa: E402


def test_late_watermarks_lag_one_batch():
    pages = pd.DataFrame({"file": [0, 0, 1, 2, 3], "ts": [1000, 2000, 2600, 3000, 100]})
    # eviction watermarks per batch: 0, 1400, 2000, 2400; late rows are
    # judged against the previous batch's
    assert gate.late_watermarks(pages).tolist() == [0, 0, 1400, 2000]


def test_self_time_subtracts_overlapping_children_once():
    t = Tracer("t")
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 5.0, root)
    t.add("c", 9.0, 12.0, root)  # clipped to the parent
    assert t.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)


@pytest.fixture(scope="module")
def counts_run(tmp_path_factory):
    """One stream_counts unit on a tiny seed, with a live session."""
    from fasta_windows_spark.session import get_spark
    from fasta_windows_spark.streaming.listener import ProgressCollector

    import workloads

    tmp = tmp_path_factory.mktemp("counts")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    spark = get_spark(app_name="perfbench-test", master="local[2]")
    listener = ProgressCollector()
    spark.streams.addListener(listener)
    wl = workloads.StreamCounts()
    inp = gen.counts_stream(7, str(tmp / "src"), 5, 20, 3)
    exp = wl.expect(inp)
    u = wl.unit(workloads.Ctx(str(tmp), spark, listener, 2), inp, exp)
    try:
        yield wl, u, exp
    finally:
        spark.streams.removeListener(listener)
        spark.stop()


def test_drop_prediction_matches_spark(counts_run):
    wl, u, exp = counts_run
    assert exp["dropped"] > 0
    assert wl.check(u, exp) == []


def _rewrite(path, fn):
    df = pq.read_table(path).to_pandas()
    pq.write_table(pa.Table.from_pandas(fn(df), preserve_index=False), path)


def test_gate_rejects_corrupted_sink_file(counts_run):
    wl, u, exp = counts_run
    files = [f for f in gate.manifest_files(u.out) if pq.read_metadata(f).num_rows]
    assert files

    def bump(df):
        df.loc[df.index[0], "cnt_g"] += 1
        return df

    _rewrite(files[0], bump)
    errs = wl.check(u, exp)
    assert errs and any("cnt_g" in e for e in errs)


def test_gate_rejects_missing_rows_and_counts_orphans(counts_run):
    wl, u, exp = counts_run
    files = [f for f in gate.manifest_files(u.out) if pq.read_metadata(f).num_rows]
    _rewrite(files[-1], lambda df: df.iloc[1:])
    assert any("missing" in e for e in wl.check(u, exp))
    with open(os.path.join(u.out, "part-orphan.parquet"), "wb") as f:
        f.write(b"not committed")
    assert gate.sink_files(u.out)["orphans"] == 1


@pytest.mark.parametrize("workload,trace,key", [
    ("batch_tsv", 0, "end_to_end"),
    ("batch_tsv", 1, "per_layer"),
    ("stream_counts", 1, "per_layer"),
])
def test_printed_metrics_match_benchmark_json(workload, trace, key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert workload in {w["name"] for w in spec["workloads"]}
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in spec[key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if trace:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["self.wall_s"] > 0 and m["layers.accounted_frac"] > 0
