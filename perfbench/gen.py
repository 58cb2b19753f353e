"""Seeded input generators for the benchmark workloads.

One single-threaded numpy pass writes every input before any timing starts;
the engine only ever sees the parquet files. Files carry explicit, strictly
increasing mtimes so that a file-source stream with ``maxFilesPerTrigger=1``
takes them in a fixed order, one file per micro-batch.

Every stream ends with a sentinel file: one tiny page on its own host, dated
past the last real window plus the watermark, so append mode emits every
real window before the query stops.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

BASE_EPOCH = 1_700_000_000  # event-time origin of every generated stream
MTIME_EPOCH = 1_600_000_000  # file mtimes: BASE + file index (seconds)
WATERMARK_S = 600  # the 10-minute watermark every streaming workload uses
SENTINEL_HOST = "sentinel.invalid"

_ACGT = np.frombuffer(b"ACGT", dtype=np.uint8)
KINDS = ("uniform", "homopolymer", "periodic2", "periodic4", "nruns", "mixedcase")


@dataclass
class Inputs:
    """Generated pages of one workload: the files the engine reads, the
    same rows in memory for the gate, and the file each row went to."""

    src: str
    pages: pd.DataFrame  # url, host, ts (int seconds), text, file
    n_files: int


def _text(rng: np.random.Generator, kind: str, n: int) -> str:
    if kind == "uniform":
        return _ACGT[rng.integers(0, 4, n)].tobytes().decode()
    if kind == "homopolymer":
        return "A" * n
    if kind == "periodic2":
        return ("AC" * (n // 2 + 1))[:n]
    if kind == "periodic4":
        return ("ACGT" * (n // 4 + 1))[:n]
    buf = _ACGT[rng.integers(0, 4, n)]
    if kind == "nruns":
        buf[rng.random(n) < 0.15] = ord("N")
    elif kind == "mixedcase":
        buf[2::3] += 32  # lowercase every third base (masked-mode bytes)
    return buf.tobytes().decode()


def _mixed_texts(rng, n: int, min_len: int, max_len: int) -> list[str]:
    """``n`` pages with the same mix of kinds and the same set of lengths
    for every seed, in a seeded order, so the work per unit does not move
    with the seed."""
    kinds = rng.permutation(np.arange(n) % len(KINDS))
    lens = rng.permutation(np.linspace(min_len, max_len, n).astype(np.int64))
    return [_text(rng, KINDS[k], int(ln)) for k, ln in zip(kinds, lens)]


def _hosts(rng, n: int, n_hosts: int, hot: int, hot_share: float) -> np.ndarray:
    is_hot = rng.random(n) < hot_share
    return np.where(
        is_hot, rng.integers(0, hot, n), rng.integers(hot, n_hosts, n)
    )


def _frame(hosts, ts, texts, files) -> pd.DataFrame:
    host = [f"host{h:03d}.example" for h in hosts]
    url = [f"https://{h}/p{i:07d}" for i, h in enumerate(host)]
    return pd.DataFrame(
        {"url": url, "host": host, "ts": np.asarray(ts, np.int64),
         "text": texts, "file": np.asarray(files, np.int64)}
    )


def _with_sentinel(pages: pd.DataFrame, window_s: int) -> pd.DataFrame:
    """Append the sentinel row in a file of its own after every data file.
    The last real window ends one window after the newest row's aligned
    start; the sentinel is a watermark and one more window beyond that."""
    last_end = int(pages["ts"].max()) // window_s * window_s + window_s
    row = pd.DataFrame(
        {"url": [f"https://{SENTINEL_HOST}/end"], "host": [SENTINEL_HOST],
         "ts": [last_end + WATERMARK_S + window_s], "text": ["ACGT"],
         "file": [int(pages["file"].max()) + 1]}
    )
    return pd.concat([pages, row], ignore_index=True)


def write_files(pages: pd.DataFrame, src: str) -> int:
    """One parquet file per ``file`` value in the pages schema the engine
    reads (url, warc_ts, html, text, lang), with increasing mtimes."""
    os.makedirs(src, exist_ok=True)
    n_files = int(pages["file"].max()) + 1
    for f in range(n_files):
        part = pages[pages["file"] == f]
        df = pd.DataFrame(
            {
                "url": part["url"].to_numpy(),
                "warc_ts": pd.to_datetime(part["ts"].to_numpy(), unit="s"),
                "html": [b""] * len(part),
                "text": part["text"].to_numpy(),
                "lang": ["en"] * len(part),
            }
        )
        path = os.path.join(src, f"part-{f:04d}.parquet")
        df.to_parquet(path, index=False, coerce_timestamps="us")
        os.utime(path, (MTIME_EPOCH + f, MTIME_EPOCH + f))
    return n_files


def _acgt_pages(rng, n: int) -> list[str]:
    codes = rng.integers(0, 4, size=(n, 8192), dtype=np.uint8)
    return [r.tobytes().decode() for r in _ACGT[codes]]


def counts_stream(
    seed: int, src: str, n_files: int, pages_per_file: int, late_per_file: int
) -> Inputs:
    """8 KiB ACGT pages in event-time order, ~30% of them on 5 hot hosts.
    From the third file on, ``late_per_file`` more pages per file are dated
    a whole window behind the watermark that file's batch drops late rows
    against (the max event time up to the file before the previous one,
    minus the watermark; see ``gate.late_watermarks``). So every one of
    them is dropped, and the dropped count is fixed for a seed."""
    rng = np.random.default_rng(seed)
    n = n_files * pages_per_file
    hosts = _hosts(rng, n, 100, 5, 0.3)
    ts = BASE_EPOCH + np.cumsum(rng.integers(1, 3, n))
    on_time = _frame(hosts, ts, _acgt_pages(rng, n), np.arange(n) // pages_per_file)

    late = []
    for f in range(2, n_files):
        wm = int(on_time.loc[on_time["file"] < f - 1, "ts"].max()) - WATERMARK_S
        k = late_per_file
        late.append(
            _frame(
                _hosts(rng, k, 100, 5, 0.3),
                wm - WATERMARK_S - rng.integers(0, 900, k),
                _acgt_pages(rng, k),
                np.full(k, f),
            )
        )
    pages = pd.concat([on_time, *late], ignore_index=True)
    pages["url"] = [f"https://{h}/p{i:07d}" for i, h in enumerate(pages["host"])]
    pages = pages.sort_values(["file"], kind="stable", ignore_index=True)
    pages = _with_sentinel(pages, WATERMARK_S)
    return Inputs(src, pages, write_files(pages, src))


def batch_pages(
    seed: int, src: str, n_files: int, n_pages: int, min_len: int, max_len: int,
    n_oversize: int = 0, oversize_len: int = 0,
) -> Inputs:
    """Mixed-kind pages (uniform, homopolymer, periodic, N-runs, mixed
    case) for the batch CLI workload, spread over ``n_files`` files so the
    scan is at least that many tasks wide. ``n_oversize`` pages of
    ``oversize_len`` bytes take the kernel's per-document segment path."""
    rng = np.random.default_rng(seed)
    texts = _mixed_texts(rng, n_pages, min_len, max_len)
    texts += [_text(rng, "uniform", oversize_len) for _ in range(n_oversize)]
    n = len(texts)
    hosts = _hosts(rng, n, 20, 2, 0.3)
    ts = BASE_EPOCH + np.arange(n)
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    pages = _frame(hosts, ts, texts, np.arange(n) % n_files)
    return Inputs(src, pages, write_files(pages, src))
