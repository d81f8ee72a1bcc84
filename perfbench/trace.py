"""The traced run's instruments: spans around calls into the layers, the
Spark event log, and direct timing of the per-row kernels. Nothing inside
the program is instrumented.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager

import pandas as pd

from metacheck_spark.fixtures import codec
from metacheck_spark.fixtures.gen_images import url_status_map
from metacheck_spark.functions.langid import langid_batch
from metacheck_spark.functions.perplexity import ppl_batch
from metacheck_spark.functions.scrub import scrub_batch
from metacheck_spark.functions.urlcheck import url_flags_batch


# the kernels are timed on the first rows of each kind (the workloads'
# distinct base rows come first)
KERNEL_IMAGES = 60
KERNEL_CAPTIONS = 2000


class Spans:
    """Seconds spent inside each named span, summed by name."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = self.seconds.get(name, 0.0) + time.perf_counter() - t0


# SQL metric names of ArrowEvalPython / MapInPandas nodes
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def event_log_layers(event_dir: str, job_group: str) -> dict[str, float]:
    """Python/Arrow boundary and runtime totals of the jobs in job_group,
    from the stage accumulables of an uncompressed event log."""
    stage_group: dict[int, str | None] = {}
    stages: list[dict] = []
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in e["Stage IDs"]:
                        stage_group[s] = g
                elif kind == "SparkListenerStageCompleted":
                    stages.append(e["Stage Info"])
    out = dict.fromkeys(
        ["py_tasks", "py_worker_s", "py_task_overhead_s", "arrow_to_py_bytes",
         "arrow_from_py_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s"],
        0.0,
    )
    for si in stages:
        if stage_group.get(si["Stage ID"]) != job_group:
            continue
        acc = {a["Name"]: float(a.get("Value") or 0) for a in si.get("Accumulables", [])}
        run_ms = acc.get("internal.metrics.executorRunTime", 0.0)
        out["shuffle_write_bytes"] += acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0)
        out["spill_bytes"] += acc.get("internal.metrics.memoryBytesSpilled", 0.0) + acc.get(
            "internal.metrics.diskBytesSpilled", 0.0
        )
        out["gc_s"] += acc.get("internal.metrics.jvmGCTime", 0.0) / 1000
        if _PY_RUN in acc:
            out["py_tasks"] += si["Number of Tasks"]
            out["py_worker_s"] += acc[_PY_RUN] / 1000
            out["py_task_overhead_s"] += (run_ms - acc[_PY_RUN]) / 1000
            out["arrow_to_py_bytes"] += acc.get(_PY_SENT, 0.0)
            out["arrow_from_py_bytes"] += acc.get(_PY_BACK, 0.0)
    return out


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_layers(rows: list[dict]) -> dict[str, float]:
    """Per-image decode+phash by format and per-row caption kernels, called
    directly on the workload's own bytes and captions. A format the
    workload does not contain reads 0."""
    by_fmt: dict[str, list[bytes]] = {"png": [], "fake_jpeg": [], "jfif": []}
    for r in rows:
        b = r["bytes"]
        fmt = codec.sniff_format(b)
        if fmt == "png":
            by_fmt["png"].append(b)
        elif fmt == "jpeg":
            by_fmt["jfif" if codec.is_real_jfif(b) else "fake_jpeg"].append(b)
    out = {}
    for fmt, blobs in by_fmt.items():
        blobs = blobs[:KERNEL_IMAGES]

        def decode_all(blobs=blobs):
            for b in blobs:
                arr = codec.decode(b)
                if arr is not None:
                    codec.average_phash(arr)

        out[f"decode.us_per_img.{fmt}"] = (
            _median_time(decode_all) / len(blobs) * 1e6 if blobs else 0.0
        )
    caps = pd.Series([r["caption"] for r in rows[:KERNEL_CAPTIONS]])
    status = url_status_map()
    for name, fn in [
        ("langid", lambda: langid_batch(caps)),
        ("ppl", lambda: ppl_batch(caps)),
        ("url", lambda: url_flags_batch(caps, status)),
        ("scrub", lambda: scrub_batch(caps)),
    ]:
        out[f"{name}.us_per_row"] = _median_time(fn) / len(caps) * 1e6
    return out
