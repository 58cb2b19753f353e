"""Task metrics from the Spark event log of a traced run, attributed to the
layer runs by the wall-clock window each ran in (a task belongs to the
window its launch time falls in). The log is read after the session stops,
when the writer has flushed and closed it."""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

import numpy as np


class EventWindows:
    def __init__(self, log_dir: str):
        self.dir = log_dir
        self.windows: dict[str, tuple[float, float]] = {}

    @contextmanager
    def window(self, label: str):
        t0 = time.time() * 1e3
        try:
            yield
        finally:
            self.windows[label] = (t0, time.time() * 1e3)

    def conf(self) -> dict:
        os.makedirs(self.dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.dir),
        }

    def _tasks(self):
        for path in glob.glob(os.path.join(self.dir, "**", "*"), recursive=True):
            if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
                continue
            with open(path) as f:
                for line in f:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue

    def metrics(self) -> dict:
        per = {k: dict(cpu_s=0.0, gc_s=0.0, shuffle_w=0, py_sent=0, py_ret=0,
                       reduce_records=[]) for k in self.windows}
        failed = 0
        for ev in self._tasks():
            info = ev.get("Task Info") or {}
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                failed += 1
            launch = info.get("Launch Time", 0)
            label = next((k for k, (a, b) in self.windows.items() if a <= launch <= b), None)
            if label is None:
                continue
            tm = ev.get("Task Metrics") or {}
            d = per[label]
            d["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            d["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            d["shuffle_w"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            recs = (tm.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            if recs:
                d["reduce_records"].append(recs)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name") or ""
                try:
                    upd = int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                if name == "data sent to Python workers":
                    d["py_sent"] += upd
                elif name == "data returned from Python workers":
                    d["py_ret"] += upd
        l1, l3 = per.get("L1"), per.get("L3")
        out = {"tasks.failed": failed}
        if l1:
            out["udfs.py_bytes_sent"] = l1["py_sent"]
            out["udfs.py_bytes_returned"] = l1["py_ret"]
        if l3:
            rr = l3["reduce_records"]
            out["executor.cpu_s"] = l3["cpu_s"]
            out["executor.gc_s"] = l3["gc_s"]
            out["shuffle.bytes_written"] = l3["shuffle_w"]
            out["shuffle.skew"] = float(max(rr) / np.median(rr)) if rr else 0.0
        return out
