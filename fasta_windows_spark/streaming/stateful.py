"""Custom stateful streaming operator: incremental per-host count-vector
state via applyInPandasWithState (SURVEY.md §4 custom item 2 — the
arbitrary-state path for merges the built-in aggregates can't express).

State per url-host: dense mono-nucleotide count vector + page/char totals,
updated incrementally each micro-batch and emitted when the host goes quiet
(event-time timeout past the watermark) — the streaming generalization of
the reference's per-record accumulation into its mpsc channel (fw.rs:42).
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n_pages LONG, total_chars LONG, a LONG, c LONG, g LONG, t LONG, n LONG, max_ts LONG"

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("total_chars", T.LongType()),
        T.StructField("cnt_a", T.LongType()),
        T.StructField("cnt_c", T.LongType()),
        T.StructField("cnt_g", T.LongType()),
        T.StructField("cnt_t", T.LongType()),
        T.StructField("cnt_n", T.LongType()),
    ]
)


def _update(
    key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (host,) = key
    if state.hasTimedOut:
        n_pages, total_chars, a, c, g, t, n, _ = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "host": host,
                    "n_pages": n_pages,
                    "total_chars": total_chars,
                    "cnt_a": a,
                    "cnt_c": c,
                    "cnt_g": g,
                    "cnt_t": t,
                    "cnt_n": n,
                }
            ]
        )
        return

    import numpy as np

    tot = np.zeros(7, dtype=np.int64)  # pages, chars, a, c, g, t, n
    max_ts = 0
    for pdf in pdfs:
        texts = pdf["text"].fillna("")
        tot[0] += len(pdf)
        tot[1] += int(texts.str.len().sum())
        # ONE byte-histogram pass replaces five str.count scans over lowered
        # copies; ASCII letter bytes never occur inside UTF-8 multibyte
        # sequences, so byte counts == char counts for these letters
        buf = np.frombuffer("".join(texts.tolist()).encode(), dtype=np.uint8)
        hist = np.bincount(buf, minlength=128)
        for i, ch in enumerate("ACGTN"):
            tot[2 + i] += int(hist[ord(ch)] + hist[ord(ch.lower())])
        # event time in epoch MILLISECONDS (datetime64[ns] -> ms)
        max_ts = max(max_ts, int(pdf["warc_ts"].astype("int64").max() // 1_000_000))

    if state.exists:
        prev = list(state.get)
        new = [prev[i] + int(tot[i]) for i in range(7)] + [max(prev[7], max_ts)]
    else:
        new = [int(x) for x in tot] + [max_ts]
    state.update(tuple(new))
    # emit once the watermark passes the host's last event + 30s of silence
    # (max_ts is already epoch-ms; setTimeoutTimestamp takes ms)
    state.setTimeoutTimestamp(new[7] + 30_000)
    yield pd.DataFrame(
        columns=[f.name for f in OUTPUT_SCHEMA.fields]
    )  # nothing emitted until timeout


def host_state_agg(pages: DataFrame, watermark: str = "1 minute") -> DataFrame:
    """Arbitrary-state aggregation keyed by host with event-time timeout."""
    from .pipeline import with_host

    p = with_host(pages).withWatermark("warc_ts", watermark)
    return (
        p.select("host", "warc_ts", "text")
        .groupBy("host")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
