"""CTW depth-6 golden differential against the driver corpora (VERDICT r2
item 3): the vectorized lockstep kernel and the driver-visible
`doc_windows_ctw` query must reproduce the COMMITTED per-window values
computed by the independent scalar coder (`ctw_bits_per_base`, the direct
port of kmeru8.rs:170-319). The depth-6 mixture is not SQL-expressible, so
these committed fixtures are its corpus-scale correctness pin — the
driver's row is rows-only (`no_oracle`) by necessity. Both the sf0.001
smoke corpus (1,777 windows) and the sf0.01 corpus the driver's
CORRECTNESS harness runs (1,753 windows) are pinned."""

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from fasta_windows_spark.kernels import ctw_bits_per_base_many

FIX_DIR = os.path.join(os.path.dirname(__file__), "fixtures")
FIXTURES = ["ctw6_sf0001.json", "ctw6_sf001.json"]


def _load(name):
    with open(os.path.join(FIX_DIR, name)) as f:
        return json.load(f)


@pytest.mark.parametrize("fixture", FIXTURES)
def test_lockstep_ctw6_matches_committed_scalar_values(fixture):
    """Rebuild the exact windows from the corpus and run the lockstep
    (grouped-numpy) kernel — the one that computes every driver-visible
    CTW number — against the committed scalar values."""
    golden = _load(fixture)
    tbl = pq.read_table(
        f"{golden['sf_dir']}/documents.parquet", columns=["doc_id", "text"]
    )
    W = golden["window"]
    wins, expected = [], []
    by_doc = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    for doc_id, w_start, value in golden["rows"]:
        buf = (by_doc[doc_id] or "").encode("utf-8")
        wins.append(buf[w_start : w_start + W])
        expected.append(value)
    assert len(wins) == golden["n_windows"] > 1700
    got = ctw_bits_per_base_many(wins, max_depth=golden["max_depth"])
    np.testing.assert_allclose(got, np.array(expected), atol=1e-9, rtol=0)


@pytest.mark.parametrize("fixture", FIXTURES)
def test_driver_query_ctw6_matches_committed_scalar_values(fixture, spark):
    """End-to-end: the contract query itself (window_stats over Spark) must
    emit the committed values on BOTH corpora — including sf0.01, the one
    the driver's CORRECTNESS harness actually executes."""
    from fasta_windows_spark import contract

    golden = _load(fixture)
    got = {
        (r["doc_id"], r["w_start"]): r["ctw"]
        for r in contract.queries()["doc_windows_ctw"](
            spark, golden["sf_dir"]
        ).collect()
    }
    assert len(got) == golden["n_windows"]
    worst = 0.0
    for doc_id, w_start, value in golden["rows"]:
        # the query rounds to 6 decimals; allow the half-ulp of that rounding
        worst = max(worst, abs(got[(doc_id, w_start)] - value))
    assert worst <= 5.0001e-7, f"max |query - scalar| = {worst}"


def test_ctw_hand_computed_exact():
    """Implementation-INDEPENDENT CTW fixture (VERDICT r3 "Next round" #4):
    both in-repo CTW computers (scalar port and vectorized lockstep) share
    authorship, so a shared misreading of kmeru8.rs:264-271 could survive
    their mutual agreement. These expectations are derived BY HAND from the
    reference source semantics (kmeru8.rs:170-319): 4-ary KT estimators
    with 1/2 pseudo-counts and denominator n + m/2 = n + 2; mixture
    log_w = log2(beta*P_kt + (1-beta)*prod(children log_w)), beta = 1/2;
    leaf rule "if ctx is empty, log_w := log_p_kt" (kmeru8.rs:283) — which
    applies to the ROOT itself during warm-up and after an N-flush; per-
    symbol code length = delta of root log_w, telescoping to the final
    root log_w; N flushes the context (kmeru8.rs:296-299).

    Derivation 1 — "ACAC", depth 2 (A=0, C=1):
      t1 A, ctx=[]:   root is path-leaf. KT: (0+.5)/(0+2)=1/4.
                      root: P_kt=1/4, W=1/4. counts A:1.
      t2 C, ctx=[A]:  node(A) path-leaf: KT 1/4 -> W=1/4.
                      root KT: (0+.5)/(1+2)=1/6 -> P_kt=1/24;
                      children prod = 1/4;
                      W = 1/2*1/24 + 1/2*1/4 = 7/48.
      t3 A, ctx=[C,A]: node(CA) leaf: KT 1/4 -> W=1/4.
                      node(C) internal: KT (0+.5)/(0+2)=1/4 -> P_kt=1/4;
                        children prod = 1/4; W = 1/2*1/4+1/2*1/4 = 1/4.
                      root KT: (1+.5)/(2+2)=3/8 -> P_kt=1/24*3/8=1/64;
                        children prod = 1/4 * 1/4 = 1/16;
                        W = 1/2*1/64 + 1/2*1/16 = 5/128.
      t4 C, ctx=[A,C]: node(AC) leaf: KT 1/4 -> W=1/4.
                      node(A) internal: counts C:1,tot 1; KT (1+.5)/(1+2)=1/2
                        -> P_kt=1/8; children prod = 1/4;
                        W = 1/2*1/8 + 1/2*1/4 = 3/16.
                      root KT: (1+.5)/(3+2)=3/10 -> P_kt=1/64*3/10=3/640;
                        children prod = W(A)*W(C) = 3/16 * 1/4 = 3/64;
                        W = 1/2*3/640 + 1/2*3/64 = 33/1280.
      bits/base = -log2(33/1280)/4.

    Derivation 2 — "ACAC", depth 1:
      t1 A: root leaf-rule -> W=1/4.                        counts A:1
      t2 C, ctx=[A]: node(A) leaf KT->W=1/4;
                     root P_kt=1/24, prod=1/4, W=7/48.
      t3 A, ctx=[C]: node(C) leaf KT->W=1/4;
                     root P_kt=1/24*3/8=1/64, prod=1/4*1/4=1/16, W=5/128.
      t4 C, ctx=[A]: node(A) leaf: counts C:1; KT (1+.5)/(1+2)=1/2
                       -> P_kt=1/8; LEAF RULE: W := P_kt = 1/8
                       (replaces 1/4 — depth-1 path-leaves never mix).
                     root P_kt=1/64*3/10=3/640,
                       prod = W(A)*W(C) = 1/8*1/4 = 1/32,
                       W = 1/2*3/640 + 1/2*1/32 = 23/1280.
      bits/base = -log2(23/1280)/4.

    Derivation 3 — "ACNAC", depth 2 (N-flush + root leaf rule):
      t1 A, t2 C: as Derivation 1 -> root W=7/48, counts A:1 C:1,
                  child(A) has counts C:1, W=1/4.
      N: flush, ctx=[].
      t3 A, ctx=[]: ROOT takes the leaf rule: KT (1+.5)/(2+2)=3/8
                    -> P_kt = 1/24*3/8 = 1/64; W := P_kt = 1/64
                    (the prior mixture 7/48 is DISCARDED — root acts as
                    the path-leaf when the context is empty).
      t4 C, ctx=[A]: node(A) leaf: KT (1+.5)/(1+2)=1/2 -> P_kt=1/8,
                       W := 1/8.
                     root KT: (1+.5)/(3+2)=3/10 -> P_kt=1/64*3/10=3/640;
                       children prod = 1/8 (only child A instantiated);
                       W = 1/2*3/640 + 1/2*1/8 = 83/1280.
      bits/base = -log2(83/1280)/4 over n_eff=4 (N not counted).
    """
    import math

    from fasta_windows_spark import kernels as K

    cases = [
        ("ACAC", 2, 33 / 1280),
        ("ACAC", 1, 23 / 1280),
        ("ACNAC", 2, 83 / 1280),
    ]
    for seq, depth, root_w in cases:
        want = -math.log2(root_w) / 4
        got = K.ctw_bits_per_base(seq, max_depth=depth)
        assert abs(got - want) < 1e-12, (seq, depth, got, want)
        got_many = K.ctw_bits_per_base_many([seq], max_depth=depth)[0]
        assert abs(got_many - want) < 1e-12, (seq, depth, got_many, want)
