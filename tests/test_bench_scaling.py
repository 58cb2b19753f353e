"""BENCH/BASELINE.md rendering of a recorded scaling pair (no Spark)."""

import json
import os
import shutil

import bench_scaling

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_baseline_md_renders_super_linear_pair(tmp_path, monkeypatch):
    """A pair that scales super-linearly has no gap to explain, so
    `gap_attribution` leaves every share None; the report prints n/a."""
    rec = json.load(open(os.path.join(REPO, "BENCH", "scaling_entropy.json")))
    lo, hi = rec["low"], rec["high"]
    hi["wall_sec"] = round(lo["wall_sec"] * lo["cores"] / hi["cores"] * 0.9, 2)
    ga = bench_scaling.gap_attribution(lo, hi, lo["cores"], hi["cores"])
    assert ga["gap_sec"] < 0
    shares = {k: v for k, v in ga.items() if k.startswith("gap_explained_by_")}
    assert shares and all(v is None for v in shares.values())
    rec["gap_attribution"] = ga

    bench = tmp_path / "BENCH"
    bench.mkdir()
    (bench / "scaling_entropy.json").write_text(json.dumps(rec))
    shutil.copy(os.path.join(REPO, "BENCH", "sustained_1m.json"), bench)
    monkeypatch.setattr(bench_scaling, "REPO", str(tmp_path))
    bench_scaling.write_baseline_md()

    md = (bench / "BASELINE.md").read_text()
    assert f"gap\n{ga['gap_sec']} s" in md
    assert "**n/a\nof the gap**" in md
    assert f"core-s (n/a),\nrun time +{ga['extra_run_sec']} core-s\n(n/a)." in md
